"""Driver-side reads and writes of committed partial-sketch state.

``CheckpointedSketchAgg`` and ``StreamingSketch`` keep their state as small
parquet files of serialized partial sketches under directories they commit
themselves (``_SUCCESS`` markers, an atomic manifest).  Which directories
count is decided on the driver with ``os.listdir``; this module reads the
chosen directories' files on the driver too, with ``pyarrow.parquet``, so
answering from state launches no Spark job and no Python worker task.  The
merged answer goes back to Spark as ``spark.createDataFrame`` over an Arrow
table, which plans as a ``LocalTableScan``.

Column types are Spark's, not Spark's mapping of the Arrow types: parquet
hands an INT96 timestamp (Spark's default for ``TimestampType``) to Arrow
as a naive timestamp, which ``createDataFrame`` would localize to the
session time zone and ``from_arrow_type`` would take for either timestamp
kind.  A Spark-written file names its types in its footer
(``_SPARK_SCHEMA_KEY``); a file ``write_committed`` wrote needs no such
key, because its parquet types are exact (UTC-adjusted INT64 for
``TimestampType``, unadjusted for ``TimestampNTZType``), and pyarrow can
only write the key together with a copy of the Arrow schema that would
grow every compacted file by most of a kilobyte.
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


def _arrow_type(dtype) -> pa.DataType | None:
    """The Arrow type a column of Spark type ``dtype`` is read as, where the
    parquet reader's own choice is not it (timestamps); else None."""
    if isinstance(dtype, TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(dtype, TimestampNTZType):
        return pa.timestamp("us")
    return None


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
    casts = {f.name: t for f in schema if (t := _arrow_type(f.dataType)) is not None}
    tables = []
    for pf in files:
        t = pf.read(columns=list(columns))
        for name, typ in casts.items():
            # naive -> UTC keeps the stored value: an INT96 timestamp, which
            # parquet hands over as naive, holds a UTC instant
            i = t.schema.get_field_index(name)
            t = t.set_column(i, name, t.column(i).cast(typ))
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
    """Write a ``read`` table as one parquet file under ``out_dir``, then
    mark the directory committed with ``_SUCCESS``.  Column statistics are
    kept for the group columns only: the min/max of the sketch column would
    copy whole blobs into the footer."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        table,
        os.path.join(out_dir, "part-00000.parquet"),
        write_statistics=[c for c in table.column_names if c != "sketch"],
        store_schema=False,
    )
    with open(os.path.join(out_dir, "_SUCCESS"), "w"):
        pass
