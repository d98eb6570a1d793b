"""Structured Streaming sketch aggregation.

hg64 is a one-pass streaming summary by construction (bounded size, no
re-reads), so the streaming form is the batch pipeline applied per
micro-batch plus an idempotent state store:

    readStream -> foreachBatch:
        stage 1 partials for the micro-batch (same mapInArrow kernel as batch)
        collected to the driver with ``toArrow()`` and committed as one
        parquet file under  <state_dir>/batch=<batch_id>/  (old directory
        removed first, its ``_SUCCESS`` before anything else -> a
        re-delivered batch after a failure replaces the same directory:
        exactly-once state, the streaming analogue of checkpoint.py's
        _SUCCESS-gated runs)
    result(): merge every committed batch's partials — valid at ANY moment
        between micro-batches, because the merge is exactly associative and
        commutative (a sketch never has to be "finalized" to be read).

State writes and reads happen on the driver (``statefiles``): a
micro-batch's partials are at most #partitions x #groups blobs, so
collecting them adds no shuffle, no Spark write job and no new memory
ceiling (``result()`` loads all committed partials on the driver anyway).
``result()`` and ``compact()`` read the committed partial files with
``pyarrow``, merge each group with ``agg.merge_blobs``, and return a
``LocalTableScan`` frame or write one merged file — no Spark job and no
Python worker task.

Scale notes: the per-batch work is the batch hot path (no per-row Python);
state size is (#groups x #batches) tiny sketch blobs, and the cost of
``result()`` is O(committed state bytes) on the driver.  ``compact()`` is
what bounds it: it rewrites the committed batches as one merged partial of
O(#groups) blobs.  Watermarked event-time windows compose by adding the
window column to ``group_cols``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from collections.abc import Callable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from hg64spark import agg, statefiles
from hg64spark.hg64 import HG64


class StreamingSketch:
    def __init__(
        self,
        state_dir: str,
        value_col: str,
        group_cols: Sequence[str] = (),
        make_sketch: Callable[[], object] = HG64,
        deserialize: Callable[[bytes], object] = HG64.deserialize,
    ):
        self.state_dir = state_dir
        self.value_col = value_col
        self.group_cols = list(group_cols)
        self.make_sketch = make_sketch
        self.deserialize = deserialize

    # ---------------------------------------------------------------- write

    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """The foreachBatch sink: stage-1 partials for this micro-batch,
        collected to the driver (at most #partitions x #groups blobs) and
        committed under the batch id, replacing a re-delivered batch's old
        directory."""
        if f"batch={batch_id}" in self._manifest()["consumed"]:
            raise RuntimeError(
                f"batch={batch_id} was already folded by a compaction — the state dir "
                f"{self.state_dir} belongs to a different streaming checkpoint lineage"
            )
        partials = agg.sketch_partials(
            batch_df, self.value_col, self.group_cols, self.make_sketch
        ).toArrow()
        out_dir = os.path.join(self.state_dir, f"batch={batch_id}")
        if os.path.isdir(out_dir):
            # un-commit first: a crash while the old files go leaves the
            # batch invisible until Spark re-delivers it, never half-replaced
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(out_dir, "_SUCCESS"))
            shutil.rmtree(out_dir)
        statefiles.write_committed(out_dir, partials)

    def start(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
        **trigger_kwargs,
    ) -> StreamingQuery:
        writer = (
            stream_df.writeStream.foreachBatch(self.foreach_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_kwargs:
            writer = writer.trigger(**trigger_kwargs)
        return writer.start()

    # ----------------------------------------------------------------- read

    def _manifest(self) -> dict:
        path = os.path.join(self.state_dir, "COMPACTION")
        if not os.path.exists(path):
            return {"compacted": None, "consumed": []}
        import json

        with open(path) as fh:
            return json.load(fh)

    def _batch_dirs(self) -> list[str]:
        if not os.path.isdir(self.state_dir):
            return []
        man = self._manifest()
        consumed = set(man["consumed"])
        dirs = [
            os.path.join(self.state_dir, d)
            for d in sorted(os.listdir(self.state_dir))
            if d.startswith("batch=")
            and d not in consumed
            and os.path.exists(os.path.join(self.state_dir, d, "_SUCCESS"))
        ]
        if man["compacted"] is not None:
            comp = os.path.join(self.state_dir, man["compacted"])
            if os.path.exists(os.path.join(comp, "_SUCCESS")):
                dirs.insert(0, comp)
        return dirs

    def _merged(self, dirs: list[str]) -> tuple[pa.Table, StructType]:
        partials, schema = statefiles.read(dirs, [*self.group_cols, "sketch"])
        return agg.merge_table(partials, len(self.group_cols), self.deserialize), schema

    def result(self, spark: SparkSession) -> DataFrame:
        """(group..., sketch): merge of all committed micro-batch partials,
        read and merged on the driver (module docstring) and returned as a
        ``LocalTableScan`` frame."""
        dirs = self._batch_dirs()
        if not dirs:
            raise FileNotFoundError(f"no committed stream batches under {self.state_dir}")
        return statefiles.to_frame(spark, *self._merged(dirs))

    def compact(self, spark: SparkSession) -> None:
        """Fold every committed batch into one merged partial directory so
        state stays O(#groups) over an unbounded stream; the merge runs on
        the driver and the merged partials are written as one parquet file.

        Crash-safe protocol: the merged output lives under ``compacted=<id>``
        — a name ``_batch_dirs`` never scans — and becomes visible only via
        an atomic manifest replace that simultaneously tombstones the
        consumed batch directories.  A crash before the replace (before or
        after the compacted dir's ``_SUCCESS``) leaves the old state intact
        (stray compacted dir ignored); a crash after it double-counts
        nothing (consumed dirs are tombstoned even though their bytes still
        exist); deletion of tombstoned dirs is lazy cleanup."""
        import json
        import uuid

        dirs = self._batch_dirs()
        if len(dirs) <= 1:
            return
        merged, _ = self._merged(dirs)
        prev_man = self._manifest()
        comp_name = f"compacted={uuid.uuid4().hex[:12]}"
        statefiles.write_committed(os.path.join(self.state_dir, comp_name), merged)
        consumed = sorted(
            set(prev_man["consumed"]) | {os.path.basename(d) for d in dirs if "batch=" in os.path.basename(d)}
        )
        tmp = os.path.join(self.state_dir, f".manifest_{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            json.dump({"compacted": comp_name, "consumed": consumed}, fh)
        os.replace(tmp, os.path.join(self.state_dir, "COMPACTION"))  # the atomic commit point
        # lazy cleanup (safe to crash anywhere in here)
        for d in dirs:
            if os.path.basename(d).startswith("batch="):
                shutil.rmtree(d, ignore_errors=True)
        if prev_man["compacted"]:
            shutil.rmtree(os.path.join(self.state_dir, prev_man["compacted"]), ignore_errors=True)
