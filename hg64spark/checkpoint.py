"""Checkpointed, resumable sketch aggregation with per-partition lineage.

north_rule: "resumable from checkpoint with per-partition lineage + metrics so
a killed job replays only unfinished partitions."

The unit of work is an *input file* (locally a parquet part-file; on a real
cluster an Iceberg partition/data file — same mechanics, different listing).
Each ``process()`` call:

  1. lists the files already covered by a successfully committed prior run
     (a run directory is trusted only if Spark wrote its ``_SUCCESS`` marker —
     a killed job's partial output is invisible to resume);
  2. builds partial sketches ONLY for the remaining files, tagging every
     partial with its source file (`input_file_name()`), row count, ns/row
     ingest rate and sketch size — the lineage/metrics row, mirroring the
     reference harness's per-thread timing output
     (`/root/reference/test.c:117-121`);
  3. appends them under a fresh ``run=<id>`` subdirectory of the checkpoint.

State reads happen on the driver (``statefiles``): ``done_files`` reads
the lineage column of every committed run's files with ``pyarrow``, and
``result()`` reads the committed partials, merges each group with
``agg.merge_blobs`` and returns a ``LocalTableScan`` frame — no Spark job
and no Python worker task.  The cost of a read is O(committed state bytes)
on the driver: partials are tiny (KBs per file x group) regardless of how
many TB produced them, but this log has no compaction yet, so it grows with
the number of runs (``StreamingSketch.compact`` is what bounds the streaming
log).  Because the merge is exactly associative+commutative, re-merging
partials from any mix of runs is identical to a single-shot job.

NOTE file-level resume assumes the value derivation is file-local (a
conversation does not span files) — the standard Iceberg layout for
transcript tables (partition/bucket by conv_id) guarantees this.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable, Sequence
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from hg64spark import agg, statefiles
from hg64spark.hg64 import HG64

_FILE_COL = "lineage_file"
_MARKER_COL = "is_marker"


def _norm_file(name: str) -> str:
    # input_file_name() returns a URI (file:///... or file:/...); normalize
    if name.startswith("file:"):
        return unquote(urlparse(name).path)
    return name


class CheckpointedSketchAgg:
    def __init__(
        self,
        ckpt_dir: str,
        value_col: str,
        group_cols: Sequence[str] = (),
        make_sketch: Callable[[], object] = HG64,
        deserialize: Callable[[bytes], object] = HG64.deserialize,
    ):
        self.ckpt_dir = ckpt_dir
        self.value_col = value_col
        self.group_cols = list(group_cols)
        self.make_sketch = make_sketch
        self.deserialize = deserialize

    # ----------------------------------------------------------------- state

    def _committed_runs(self) -> list[str]:
        if not os.path.isdir(self.ckpt_dir):
            return []
        runs = []
        for d in sorted(os.listdir(self.ckpt_dir)):
            full = os.path.join(self.ckpt_dir, d)
            if d.startswith("run=") and os.path.exists(os.path.join(full, "_SUCCESS")):
                runs.append(full)
        return runs

    def _runs_or_raise(self) -> list[str]:
        runs = self._committed_runs()
        if not runs:
            raise FileNotFoundError(f"no committed checkpoint runs under {self.ckpt_dir}")
        return runs

    def done_files(self, spark: SparkSession) -> set[str]:
        """Files covered by a committed run, read on the driver."""
        runs = self._committed_runs()
        if not runs:
            return set()
        files = pc.unique(statefiles.read(runs, [_FILE_COL])[0].column(_FILE_COL))
        return {_norm_file(f) for f in files.to_pylist()}

    # --------------------------------------------------------------- process

    def process(
        self,
        spark: SparkSession,
        files: Sequence[str],
        derive: Callable[[DataFrame], DataFrame] | None = None,
    ) -> list[str]:
        """Build partials for files not yet checkpointed; returns the list of
        files actually processed this call (empty on a fully-resumed job).

        ``derive`` maps the raw file DataFrame to one carrying ``value_col``
        and the group columns (e.g. transcript -> latency derivation)."""
        done = self.done_files(spark)
        todo = [f for f in files if os.path.abspath(f) not in done]
        if not todo:
            return []
        # derive PER FILE, then union: (a) a shuffling derive (window lag,
        # per-conv groupBy) stays file-local by construction — exactly the
        # file-local assumption this resume granularity needs — and (b) the
        # lineage column is a literal, immune to input_file_name() going
        # empty after a derive's exchange
        per_file = []
        for f in todo:
            d = spark.read.parquet(f)
            if derive is not None:
                d = derive(d)
            per_file.append(
                d.select(*self.group_cols, self.value_col).withColumn(
                    _FILE_COL, F.lit(os.path.abspath(f))
                )
            )
        df = per_file[0]
        for d in per_file[1:]:
            df = df.unionAll(d)
        partials = agg.sketch_partials(
            df, self.value_col, self.group_cols + [_FILE_COL], self.make_sketch, with_metrics=True
        ).withColumn(_MARKER_COL, F.lit(False))
        markers = self._markers(spark, todo, dict(df.dtypes))
        cols = partials.columns
        run_dir = os.path.join(self.ckpt_dir, f"run={uuid.uuid4().hex[:12]}")
        partials.unionByName(markers.select(*cols)).write.mode("overwrite").parquet(run_dir)
        return [os.path.abspath(f) for f in todo]

    def _markers(self, spark: SparkSession, files: Sequence[str], dtypes: dict) -> DataFrame:
        """One marker row per file, so files contributing ZERO rows (empty or
        fully-filtered) are still recorded as done; the empty sketch is the
        merge identity and result() drops markers anyway.  An Arrow-backed
        local frame: a ``LocalTableScan``, where ``createDataFrame`` over a
        Python list would be a pickled-RDD scan costing Python worker tasks
        on every write."""
        n = len(files)
        empty_blob = self.make_sketch().serialize()
        table = pa.table(
            {
                _FILE_COL: [os.path.abspath(f) for f in files],
                "sketch": pa.array([empty_blob] * n, pa.binary()),
                "m_rows": pa.array([0] * n, pa.int64()),
                "m_ns_per_row": pa.array([0.0] * n, pa.float64()),
                "m_sketch_bytes": pa.array([len(empty_blob)] * n, pa.int64()),
                _MARKER_COL: pa.array([True] * n, pa.bool_()),
            }
        )
        markers = spark.createDataFrame(
            table,
            f"{_FILE_COL} string, sketch binary, m_rows long, m_ns_per_row double, "
            f"m_sketch_bytes long, {_MARKER_COL} boolean",
        )
        for c in self.group_cols:
            markers = markers.withColumn(c, F.lit(None).cast(dtypes[c]))
        return markers

    # ----------------------------------------------------------------- reads

    def result(self, spark: SparkSession) -> DataFrame:
        """(group..., sketch): merge of every committed partial, read and
        merged on the driver (module docstring) and returned as a
        ``LocalTableScan`` frame."""
        cols = [*self.group_cols, "sketch"]
        partials, schema = statefiles.read(self._runs_or_raise(), [*cols, _MARKER_COL])
        partials = partials.filter(pc.invert(partials.column(_MARKER_COL))).select(cols)
        merged = agg.merge_table(partials, len(self.group_cols), self.deserialize)
        return statefiles.to_frame(spark, merged, schema)

    def metrics(self, spark: SparkSession) -> DataFrame:
        """Per-partial lineage: (lineage_file, group..., m_rows, m_ns_per_row,
        m_sketch_bytes), as a Spark read of the committed runs."""
        partials = spark.read.parquet(*self._runs_or_raise())
        return partials.filter(~F.col(_MARKER_COL)).select(
            _FILE_COL, *self.group_cols, "m_rows", "m_ns_per_row", "m_sketch_bytes"
        )
