"""Driver-side reads and writes of committed partial-sketch state.

``CheckpointedSketchAgg`` and ``StreamingSketch`` keep their state as small
parquet files of serialized partial sketches under directories they commit
themselves (``_SUCCESS`` markers, an atomic manifest).  Both write those
files here, on the driver: ``process()`` and ``foreach_batch`` collect their
partials with ``toArrow()`` and ``compact()`` merges them, and each hands
the table to ``write_committed`` — one parquet file, then ``_SUCCESS`` — so
no Spark write job runs.  Which directories count is decided on the driver
with ``os.listdir``; this module reads the chosen directories' files on the
driver too, with ``pyarrow.parquet``, so answering from state launches no
Spark job and no Python worker task.  The merged answer goes back to Spark
as ``spark.createDataFrame`` over an Arrow table, which plans as a
``LocalTableScan``.

Column types are Spark's, not Spark's mapping of the Arrow types: parquet
hands an INT96 timestamp (Spark's default for ``TimestampType``) to Arrow
as a naive timestamp, which ``createDataFrame`` would localize to the
session time zone and ``from_arrow_type`` would take for either timestamp
kind.  A file Spark's writer wrote (state from before the driver-side
writes) names its types in its footer (``_SPARK_SCHEMA_KEY``); a file
``write_committed`` wrote has no footer schema and takes its types from
its parquet types, which are exact (UTC-adjusted INT64 for
``TimestampType``, unadjusted for ``TimestampNTZType``): pyarrow can only
write the key together with a copy of the Arrow schema that would grow
every state file by most of a kilobyte.  Both kinds of file can sit in one
state directory.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _spark_schema(pf: pq.ParquetFile) -> StructType:
    meta = pf.schema_arrow.metadata or {}
    if _SPARK_SCHEMA_KEY in meta:
        return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return from_arrow_schema(pf.schema_arrow, prefer_timestamp_ntz=True)


def _arrow_type(dtype, read: pa.DataType) -> pa.DataType:
    """The Arrow type a column of Spark type ``dtype`` is read as, given
    the parquet reader's own choice ``read``: that choice, but with
    timestamps, also inside a struct, made exact."""
    if isinstance(dtype, TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(dtype, TimestampNTZType):
        return pa.timestamp("us")
    if isinstance(dtype, StructType) and pa.types.is_struct(read):
        fields = [(f.dataType, read.field(f.name)) for f in dtype]
        return pa.struct([rf.with_type(_arrow_type(dt, rf.type)) for dt, rf in fields])
    return read


def read(dirs: Sequence[str], columns: Sequence[str]) -> tuple[pa.Table, StructType]:
    """``columns`` of every data file in ``dirs``, and their Spark schema.
    Like Spark's reader, names starting with ``_`` or ``.`` (``_SUCCESS``,
    checksums) are not data, and the schema is the first file's.  Every
    ``TimestampType`` column comes back UTC-aware, so ``createDataFrame``
    takes it as the instant it is."""
    files = [
        pq.ParquetFile(os.path.join(d, f), coerce_int96_timestamp_unit="us")
        for d in dirs
        for f in sorted(os.listdir(d))
        if not f.startswith(("_", "."))
    ]
    by_name = {f.name: f for f in _spark_schema(files[0])}
    schema = StructType([by_name[c] for c in columns])
    tables = []
    for pf in files:
        t = pf.read(columns=list(columns))
        for i, f in enumerate(t.schema):
            # naive -> UTC keeps the stored value: an INT96 timestamp, which
            # parquet hands over as naive, holds a UTC instant
            typ = _arrow_type(schema[f.name].dataType, f.type)
            if typ != f.type:
                t = t.set_column(i, f.name, t.column(i).cast(typ))
        tables.append(t.replace_schema_metadata(None))
    return pa.concat_tables(tables, promote_options="default"), schema


def to_frame(spark: SparkSession, table: pa.Table, schema: StructType) -> DataFrame:
    """A merged (group..., sketch) table as a ``LocalTableScan`` frame, typed
    as ``merge_sketches`` types it over a Spark read of the same files: each
    group column with its type in ``schema``, nullable, and a non-null
    binary sketch."""
    out = StructType(
        [StructField(c, schema[c].dataType, True) for c in table.column_names[:-1]]
        + [StructField("sketch", BinaryType(), False)]
    )
    return spark.createDataFrame(table, out)


def write_committed(out_dir: str, table: pa.Table) -> None:
    """Write a state table (a ``read`` table, or partials collected with
    ``toArrow()``) as one parquet file under ``out_dir``, then mark the
    directory committed with ``_SUCCESS``: a crash between the two leaves
    the directory invisible.  Every column is written nullable, as Spark's
    writer writes them.  Column statistics are kept for the non-sketch
    columns only: the min/max of the sketch column would copy whole blobs
    into the footer."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        table.cast(pa.schema([f.with_nullable(True) for f in table.schema])),
        os.path.join(out_dir, "part-00000.parquet"),
        write_statistics=[c for c in table.column_names if c != "sketch"],
        store_schema=False,
    )
    with open(os.path.join(out_dir, "_SUCCESS"), "w"):
        pass
