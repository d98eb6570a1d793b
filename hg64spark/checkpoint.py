"""Checkpointed, resumable sketch aggregation with per-partition lineage.

north_rule: "resumable from checkpoint with per-partition lineage + metrics so
a killed job replays only unfinished partitions."

The unit of work is an *input file* (locally a parquet part-file; on a real
cluster an Iceberg partition/data file — same mechanics, different listing).
Each ``process()`` call:

  1. lists the files already covered by a committed prior run (a run
     directory is trusted only if its ``_SUCCESS`` marker exists, and
     ``_SUCCESS`` is written after the run's data file — a killed job's
     partial output is invisible to resume);
  2. builds partial sketches ONLY for the remaining files, tagging every
     partial with its source file, row count, ns/row ingest rate and sketch
     size — the lineage/metrics row, mirroring the reference harness's
     per-thread timing output (``test.c:117-121`` of the reference);
  3. collects those partials to the driver with ``toArrow()``, adds one
     marker row per file, and commits them as one parquet file under a
     fresh ``run=<id>`` subdirectory (``statefiles.write_committed``) — no
     Spark write job.  A run holds at most files x groups blobs, which is
     what ``result()`` loads on the driver anyway, so the collect adds no
     new memory ceiling.

State reads happen on the driver (``statefiles``): ``done_files`` reads
the lineage column of every committed run's files with ``pyarrow``, and
``result()`` and ``metrics()`` read the committed partials (``result()``
merges each group with ``agg.merge_blobs``) and return a
``LocalTableScan`` frame — no Spark job and no Python worker task.  The
cost of a read is O(committed state bytes) on the driver: partials are
tiny (KBs per file x group) regardless of how many TB produced them, but
this log has no compaction yet, so it grows with the number of runs
(``StreamingSketch.compact`` is what bounds the streaming log).  Because
the merge is exactly associative+commutative, re-merging partials from any
mix of runs is identical to a single-shot job.

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
from pyspark.sql.types import StructField, StructType

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
        """Build partials for files not yet checkpointed and commit them as
        one run (module docstring); returns the list of files actually
        processed this call (empty on a fully-resumed job).  The input
        schema is inferred once per call, over the unprocessed files.

        ``derive`` maps the raw file DataFrame to one carrying ``value_col``
        and the group columns (e.g. transcript -> latency derivation)."""
        done = self.done_files(spark)
        todo = [f for f in files if os.path.abspath(f) not in done]
        if not todo:
            return []
        # one schema inference for the call: a read without a schema runs a
        # Spark job per file to infer it
        schema = spark.read.parquet(*todo).schema
        # derive PER FILE, then union: (a) a shuffling derive (window lag,
        # per-conv groupBy) stays file-local by construction — exactly the
        # file-local assumption this resume granularity needs — and (b) the
        # lineage column is a literal, immune to input_file_name() going
        # empty after a derive's exchange
        per_file = []
        for f in todo:
            d = spark.read.schema(schema).parquet(f)
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
        ).toArrow()
        partials = partials.append_column(
            _MARKER_COL, pa.array([False] * partials.num_rows, pa.bool_())
        )
        table = pa.concat_tables(
            [partials, self._marker_rows(todo, partials.schema)], promote_options="default"
        )
        statefiles.write_committed(
            os.path.join(self.ckpt_dir, f"run={uuid.uuid4().hex[:12]}"), table
        )
        return [os.path.abspath(f) for f in todo]

    def _marker_rows(self, files: Sequence[str], schema: pa.Schema) -> pa.Table:
        """One marker row per file, so files contributing ZERO rows (empty or
        fully-filtered) are still recorded as done; the empty sketch is the
        merge identity and result() drops markers anyway.  Group columns are
        NULL, typed as in the partials' ``schema``."""
        n = len(files)
        empty_blob = self.make_sketch().serialize()
        values = {
            _FILE_COL: [os.path.abspath(f) for f in files],
            "sketch": [empty_blob] * n,
            "m_rows": [0] * n,
            "m_ns_per_row": [0.0] * n,
            "m_sketch_bytes": [len(empty_blob)] * n,
            _MARKER_COL: [True] * n,
        }
        return pa.table(
            [
                pa.array(values[f.name], f.type) if f.name in values else pa.nulls(n, f.type)
                for f in schema
            ],
            names=schema.names,
        )

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
        m_sketch_bytes), read on the driver like ``result()`` and returned
        as a ``LocalTableScan`` frame with every column nullable."""
        cols = [_FILE_COL, *self.group_cols, "m_rows", "m_ns_per_row", "m_sketch_bytes"]
        table, schema = statefiles.read(self._runs_or_raise(), [*cols, _MARKER_COL])
        table = table.filter(pc.invert(table.column(_MARKER_COL))).select(cols)
        return spark.createDataFrame(
            table, StructType([StructField(f.name, f.dataType, True) for f in schema[:-1]])
        )
