"""Scalar Arrow-UDF surface over serialized sketch columns.

Once sketches are persisted as binary columns (checkpoint tables, streaming
state, rollup tables), users query them straight from SQL:

    SELECT tool, hg64_quantile(sketch, 0.99) AS p99 FROM tool_sketches

Each UDF gets an Arrow batch of sketch blobs and answers it with the
columnar finalizer kernel that ``agg.hg64_quantiles`` and friends run:
``hg64.decode_matrices`` turns the batch into (sketches x keys) counter
matrices and ``hg64.HG64SnapshotMatrix`` answers every row at once, each
row with its own parameter.  A NULL sketch, or a NULL or NaN parameter,
answers NULL; the rows around it never see Python objects.
`register(spark)` installs the UDFs for SQL; the module-level objects work
in the DataFrame API.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import BinaryType, DoubleType, LongType

from hg64spark.hg64 import HG64, HG64SnapshotMatrix, decode_matrices


def _answer(
    sketch: pa.Array,
    param: pa.Array | None,
    kernel: Callable[[HG64SnapshotMatrix, np.ndarray | None], np.ndarray],
    dtype,
) -> pa.Array:
    """``kernel(matrix, params)`` over the rows whose sketch and parameter
    are neither NULL nor NaN, one decoded matrix at a time; ``params`` is
    those rows' parameters as a (rows, 1) column.  Other rows are NULL."""
    ok = sketch.is_valid().to_numpy(zero_copy_only=False)
    if param is not None:
        if not pa.types.is_integer(param.type):
            param = param.cast(pa.float64())
        values = param.fill_null(0).to_numpy(zero_copy_only=False)
        ok &= param.is_valid().to_numpy(zero_copy_only=False)
        if values.dtype.kind == "f":
            ok &= ~np.isnan(values)
    rows = np.flatnonzero(ok)
    out = np.zeros(len(sketch), dtype=dtype)
    for sigbits, start, counters in decode_matrices(sketch.take(rows).to_pylist()):
        at = rows[start : start + counters.shape[0]]
        params = None if param is None else values[at, None]
        out[at] = kernel(HG64SnapshotMatrix(sigbits, counters), params).reshape(-1)
    return pa.array(out, mask=~ok)


@arrow_udf(LongType())
def hg64_quantile(sketch: pa.Array, q: pa.Array) -> pa.Array:
    """value_at_quantile over a serialized hg64 column (`hg64.c:431-436`);
    an empty sketch or q >= 1 gives UINT64_MAX, i.e. -1 as a long."""
    return _answer(sketch, q, lambda m, qs: m.value_at_quantile(qs).astype(np.int64), np.int64)


@arrow_udf(LongType())
def hg64_rank(sketch: pa.Array, value: pa.Array) -> pa.Array:
    """rank_of_value over a serialized hg64 column (`hg64.c:410-429`); a
    negative probe fails with ValueError."""
    return _answer(sketch, value, lambda m, v: m.rank_of_value(v).astype(np.int64), np.int64)


@arrow_udf(LongType())
def hg64_population(sketch: pa.Array) -> pa.Array:
    return _answer(sketch, None, lambda m, _: m.population.astype(np.int64), np.int64)


@arrow_udf(DoubleType())
def hg64_mean(sketch: pa.Array) -> pa.Array:
    """Mean of the bucket midpoints, 0.0 for an empty sketch."""
    return _answer(sketch, None, lambda m, _: m.stats()[1], np.float64)


def _sketches(blobs: pa.Array) -> Iterator[HG64]:
    """The sketches of a column with no NULLs, decoded matrix by matrix."""
    for sigbits, _, counters in decode_matrices(blobs.to_pylist()):
        yield from (HG64(sigbits, row) for row in counters)


@arrow_udf(BinaryType())
def hg64_merge_pair(a: pa.Array, b: pa.Array) -> pa.Array:
    """Merge two serialized sketches (e.g. combining rollup rows) with
    `HG64.merge`, so a pair of different sigbits merges into ``a``'s.  A
    NULL on one side passes the other through unchanged (merge with empty
    = identity); NULL on both sides -> NULL."""
    both = pc.and_(a.is_valid(), b.is_valid())
    idx = np.flatnonzero(both.to_numpy(zero_copy_only=False))
    merged = [x.merge(y).serialize() for x, y in zip(_sketches(a.take(idx)), _sketches(b.take(idx)))]
    return pc.replace_with_mask(pc.coalesce(a, b), both, pa.array(merged, type=a.type))


def register(spark: SparkSession) -> None:
    """Install the sketch UDFs for SQL use."""
    spark.udf.register("hg64_quantile", hg64_quantile)
    spark.udf.register("hg64_rank", hg64_rank)
    spark.udf.register("hg64_population", hg64_population)
    spark.udf.register("hg64_mean", hg64_mean)
    spark.udf.register("hg64_merge_pair", hg64_merge_pair)
