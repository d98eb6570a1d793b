"""Structured Streaming sketch aggregation.

hg64 is a one-pass streaming summary by construction (bounded size, no
re-reads), so the streaming form is the batch pipeline applied per
micro-batch plus an idempotent state store:

    readStream -> foreachBatch:
        stage 1 partials for the micro-batch (same mapInArrow kernel as batch)
        written to  <state_dir>/batch=<batch_id>/   (overwrite by batch id ->
        re-delivered batches after a failure land in the same directory:
        exactly-once state, the streaming analogue of checkpoint.py's
        _SUCCESS-gated runs)
    result(): merge every committed batch's partials — valid at ANY moment
        between micro-batches, because the merge is exactly associative and
        commutative (a sketch never has to be "finalized" to be read).

State reads happen on the driver (``statefiles``): ``result()`` and
``compact()`` read the committed partial files with ``pyarrow``, merge each
group with ``agg.merge_blobs``, and return a ``LocalTableScan`` frame or
write one merged file — no Spark job and no Python worker task.

Scale notes: the per-batch work is the batch hot path (no per-row Python);
state size is (#groups x #batches) tiny sketch blobs, and the cost of
``result()`` is O(committed state bytes) on the driver.  ``compact()`` is
what bounds it: it rewrites the committed batches as one merged partial of
O(#groups) blobs.  Watermarked event-time windows compose by adding the
window column to ``group_cols``.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from hg64spark import agg, statefiles
from hg64spark.hg64 import HG64


def windowed_hg64_counts(
    stream_df: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: Sequence[str] = (),
    window_duration: str = "10 seconds",
    watermark_delay: str = "10 seconds",
    sigbits: int = 5,
) -> DataFrame:
    """Watermarked EVENT-TIME tumbling-window sketch build: the hg64 bucket
    key composes with ``F.window`` exactly like any other group column, so
    the streaming aggregation is Catalyst's own stateful HashAggregate over
    (window, group..., hg64_key) — no Python, and state per open window is
    bounded by #groups x <= 1920 keys regardless of row rate.

    The watermark gives the streaming semantics the batch path can't:
    * late rows within ``watermark_delay`` still land in their (event-time)
      window;
    * rows later than the watermark are dropped by the state store, which is
      what lets Spark evict closed windows instead of keeping every window
      forever (the unbounded-state hazard of event-time aggs);
    * in append output mode a window's counts are emitted exactly once, when
      the watermark passes its end — at which point they are final and the
      (window, key, count) rows ARE the serialized-free relational sketch
      (fold with :func:`hg64spark.relational.hg64_from_counts` or feed
      ``agg.hg64_buckets``-style finalizers).

    Returns the streaming DataFrame; callers attach their sink
    (``writeStream.outputMode("append")``)."""
    from hg64spark import relational

    group_cols = list(group_cols)
    keyed = relational.with_hg64_key(
        stream_df.withWatermark(ts_col, watermark_delay).select(ts_col, *group_cols, value_col),
        value_col,
        sigbits,
    )
    return keyed.groupBy(
        F.window(F.col(ts_col), window_duration), *group_cols, "hg64_key"
    ).agg(F.count("*").alias("count"))


def dedup_stream_watermarked(
    stream_df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Watermarked stateful streaming dedup: ``withWatermark`` +
    ``dropDuplicates([*key_cols, ts_col])`` — the state-BOUNDED form of the
    exact streaming dedup (``dropDuplicates`` without a watermark keeps
    every key forever, the unbounded-state hazard documented on the
    unwatermarked gate).

    Because the event-time column is one of the dedup keys, Spark evicts
    state rows once the watermark passes their timestamp, and drops
    later-than-watermark input rows outright.  The late-row drop is
    load-bearing, not incidental: a late duplicate whose state was already
    evicted would otherwise be re-emitted as new (asserted across a
    checkpoint restart in tests/test_streaming.py).  State is one row per
    distinct (key..., ts) inside the watermark horizon — bounded by arrival
    rate x delay, independent of total stream length.

    Returns the streaming DataFrame; callers attach an append-mode sink."""
    return stream_df.withWatermark(ts_col, watermark_delay).dropDuplicates(
        [*key_cols, ts_col]
    )


def sketch_stream_stateful(
    stream_df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    make_sketch: Callable[[], object] = HG64,
    deserialize: Callable[[bytes], object] = HG64.deserialize,
) -> DataFrame:
    """Custom stateful streaming operator: per-group sketch kept in Spark's
    streaming state store via ``applyInPandasWithState``.  Each micro-batch
    folds its rows into the group's sketch (vectorized) and emits the updated
    serialized sketch — downstream consumers always see the newest cumulative
    summary per group.

    Versus the foreachBatch form (:class:`StreamingSketch`): state lives in
    the checkpointed state store (RocksDB/HDFS on a cluster), is keyed and
    sharded by group, and recovers exactly-once on restart without an
    external directory — the right shape when group cardinality is large.
    foreachBatch remains preferable when results must live in an external
    table anyway."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import BinaryType, StructField, StructType

    group_cols = list(group_cols)
    fields = [f for f in stream_df.schema.fields if f.name in group_cols]
    out_schema = StructType(fields + [StructField("sketch", BinaryType(), False)])
    state_schema = StructType([StructField("sketch", BinaryType(), True)])

    def update(key, pdfs, state):
        if state.exists:
            sk = deserialize(bytes(state.get[0]))
        else:
            sk = make_sketch()
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            if len(vals):
                sk.add_values(vals.to_numpy())
        blob = sk.serialize()
        state.update((blob,))
        out = {c: [k] for c, k in zip(group_cols, key)}
        out["sketch"] = [blob]
        yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return stream_df.groupBy(*group_cols).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


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
        overwritten idempotently under the batch id."""
        if f"batch={batch_id}" in self._manifest()["consumed"]:
            raise RuntimeError(
                f"batch={batch_id} was already folded by a compaction — the state dir "
                f"{self.state_dir} belongs to a different streaming checkpoint lineage"
            )
        partials = agg.sketch_partials(batch_df, self.value_col, self.group_cols, self.make_sketch)
        # repartition(1) BEFORE the write: the partial frame is tiny by
        # construction (<= #partitions x #groups sketch blobs), but it
        # inherits the input's partitioning, so writing it directly emits one
        # near-empty parquet file + task commit per input split (64 at the
        # bench; thousands at scale) every micro-batch — the small-files
        # anti-pattern of guide §6.  The explicit shuffle (NOT coalesce,
        # which would collapse the upstream partial computation into one
        # task) moves only the serialized sketches and makes each batch one
        # well-formed file; partial content and the canonical merge order
        # downstream are unchanged.
        partials.repartition(1).write.mode("overwrite").parquet(
            os.path.join(self.state_dir, f"batch={batch_id}")
        )

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
        import shutil
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
