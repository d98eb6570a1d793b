"""Spark glue: distributed sketch aggregation as partial + merge.

PySpark cannot register a custom Catalyst ``TypedImperativeAggregate``, so the
partial/final aggregation contract is expressed explicitly — the same plan
Catalyst builds for built-in aggregates, and exactly the execution model the
reference benchmarks as `merged_load` (`/root/reference/test.c:125-157`, ~7x
faster than its shared-memory path):

    stage 1  mapInArrow      one partial sketch per (task partition x group),
                             vectorized numpy ingest over Arrow batches —
                             this is the map-side combine: the shuffle then
                             carries only tiny serialized sketches, never rows
    stage 2  groupBy(keys)   shuffle of <= (#partitions x #groups) sketch blobs
    stage 3  applyInArrow    associative integer merge + serialize

The hg64 finalizers (``hg64_quantiles`` … ``hg64_stats``) are one more
``mapInArrow`` pass: each Arrow batch of sketches is decoded into a
(sketches x keys) counter matrix and answered with 2-D numpy.

Skew note (north_rule): because stage 1 emits at most one sketch per group per
*partition*, a conversation with a billion rows costs its partitions ingest
time but contributes the same handful of bytes to the shuffle as any other
group — group-key skew cannot concentrate shuffle load by construction.  Skew
across *input partitions* (one giant file split) is handled upstream with
:func:`repartition_salted`.

Any object implementing the sketch protocol (``add_values(np.ndarray)``,
``merge(other)``, ``serialize() -> bytes``) plugs in; every sketch in
``hg64spark`` does.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from hg64spark.hg64 import HG64, HG64SnapshotMatrix, decode_matrices

_GLOBAL_KEY = "__hg64_global__"


def _group_schema(df: DataFrame, group_cols: Sequence[str]) -> list[StructField]:
    by_name = {f.name: f for f in df.schema.fields}
    return [by_name[c] for c in group_cols]


#: one canonical NaN object: tuple equality shortcuts on identity, so using a
#: single NaN instance makes cross-batch dict keys with NaN group values
#: collide into one group (matching Spark's groupBy NaN semantics)
_NAN = float("nan")


def segment_record_batch(
    rb: pa.RecordBatch, n_group_cols: int, _force_lexsort: bool = False
) -> list[tuple[tuple, np.ndarray]]:
    """Group the first ``n_group_cols`` columns of an Arrow batch without
    creating per-row Python objects: dictionary-encode each group column,
    fuse the codes into one mixed-radix int, argsort, and cut segments.
    Returns [(group_value_tuple, row_index_array), ...]; empty list for a
    zero-row batch.  Shared by the partial builder and the relational fold."""
    if rb.num_rows == 0:
        return []
    dicts: list[list] = []
    codes_list: list[np.ndarray] = []
    for i in range(n_group_cols):
        enc = rb.column(i).dictionary_encode()
        values = enc.dictionary
        if pa.types.is_timestamp(values.type) and values.type.tz:
            # Spark hands timestamps over in the session time zone, and
            # pyarrow turns a datetime zoned anywhere but UTC back into the
            # wrong instant; the same instants labelled UTC round-trip
            values = values.cast(pa.timestamp(values.type.unit, "UTC"))
        d = values.to_pylist() + [None]  # last code = NULL
        d = [_NAN if isinstance(v, float) and v != v else v for v in d]
        codes = enc.indices.fill_null(len(d) - 1).to_numpy(zero_copy_only=False).astype(np.int64)
        dicts.append(d)
        codes_list.append(codes)
    # mixed-radix fuse only while the radix product fits in int64: with
    # several high-cardinality group columns prod(len(d)) can exceed 2^63,
    # which would wrap silently and merge distinct groups — fall back to a
    # lexsort over the per-column code arrays in that case
    radix = 1
    for d in dicts:
        radix = radix * len(d) if radix <= (1 << 62) // len(d) else 0
    if _force_lexsort:
        radix = 0
    if radix:
        fused = None
        for d, codes in zip(dicts, codes_list):
            fused = codes if fused is None else fused * len(d) + codes
        order = np.argsort(fused, kind="stable")
        fs = fused[order]
        bounds = np.flatnonzero(np.diff(fs)) + 1
    else:
        order = np.lexsort(tuple(reversed(codes_list)))
        changed = np.zeros(rb.num_rows - 1, dtype=bool)
        for codes in codes_list:
            cs = codes[order]
            changed |= cs[1:] != cs[:-1]
        bounds = np.flatnonzero(changed) + 1
    out = []
    for s, e in zip(
        np.concatenate([[0], bounds]).tolist(), np.concatenate([bounds, [rb.num_rows]]).tolist()
    ):
        row = int(order[s])
        key_vals = tuple(d[codes[row]] for d, codes in zip(dicts, codes_list))
        out.append((key_vals, order[s:e]))
    return out


def sketch_partials(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    make_sketch: Callable[[], object],
    with_metrics: bool = False,
    weight_col: str | None = None,
) -> DataFrame:
    """Stage 1: one serialized partial sketch per (partition x group).

    Implemented over ``mapInArrow`` so NO per-row Python objects are ever
    created (the input_hint requirement): group columns are
    dictionary-encoded by Arrow, fused into one int code array, and segmented
    with a single argsort — the value column reaches the sketch kernel as a
    raw numpy array.  Decoded group *values* materialize only once per
    emitted partial row.

    Nulls in ``value_col`` are dropped (SQL-aggregate convention).  With
    ``with_metrics`` each partial row also carries per-partition lineage
    (rows ingested, ns/row, sketch bytes) — the north_rule's metrics
    requirement, mirroring the reference harness's per-thread timing output
    (`/root/reference/test.c:117-121`).
    """
    group_cols = list(group_cols)
    fields = _group_schema(df, group_cols) + [StructField("sketch", BinaryType(), False)]
    if with_metrics:
        fields += [
            StructField("m_rows", LongType(), False),
            StructField("m_ns_per_row", DoubleType(), False),
            StructField("m_sketch_bytes", LongType(), False),
        ]
    out_schema = StructType(fields)
    narrow = df.select(*group_cols, value_col, *([weight_col] if weight_col else []))

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sketches: dict[tuple, object] = {}
        key_rows: dict[tuple, int] = {}
        nrows = 0
        out_type: pa.Schema | None = None
        t0 = time.perf_counter_ns()
        for rb in batches:
            if out_type is None:
                out_type = rb.schema
            vcol = rb.column(len(group_cols))
            valid = None
            if vcol.null_count:
                valid = vcol.is_valid().to_numpy(zero_copy_only=False)
                # numeric arrays must be null-FILLED before to_numpy (nulls
                # would silently convert the array to float NaN); string /
                # binary arrays must NOT be (fill_null(0) raises
                # ArrowTypeError on them — to_numpy gives object arrays where
                # None rows are dropped by the valid mask anyway)
                if not (pa.types.is_string(vcol.type) or pa.types.is_large_string(vcol.type)
                        or pa.types.is_binary(vcol.type) or pa.types.is_large_binary(vcol.type)):
                    vcol = vcol.fill_null(0)
            varr = vcol.to_numpy(zero_copy_only=False)
            warr = None
            if weight_col is not None:
                # null weight contributes nothing (matches SQL sum(weight)
                # semantics in the relational weighted path): fill to 0,
                # sketches treat weight-0 rows as no-ops
                warr = (
                    rb.column(len(group_cols) + 1)
                    .fill_null(0)
                    .to_numpy(zero_copy_only=False)
                )
            if valid is not None:
                keep = np.flatnonzero(valid)
                if keep.size == 0:
                    continue
            else:
                keep = None
            n_valid = keep.size if keep is not None else len(varr)
            nrows += n_valid
            if not group_cols:
                sk = sketches.get(())
                if sk is None:
                    sk = sketches[()] = make_sketch()
                    key_rows[()] = 0
                if warr is None:
                    sk.add_values(varr if keep is None else varr[keep])
                else:
                    sk.add_values(
                        varr if keep is None else varr[keep],
                        weights=warr if keep is None else warr[keep],
                    )
                key_rows[()] += n_valid
                continue
            valid_mask = valid  # row-aligned null mask for the value column
            for key, idx in segment_record_batch(rb, len(group_cols)):
                if valid_mask is not None:
                    idx = idx[valid_mask[idx]]
                    if idx.size == 0:
                        continue
                sk = sketches.get(key)
                if sk is None:
                    sk = sketches[key] = make_sketch()
                    key_rows[key] = 0
                if warr is None:
                    sk.add_values(varr[idx])
                else:
                    sk.add_values(varr[idx], weights=warr[idx])
                key_rows[key] += idx.size
        if not sketches:
            return
        elapsed = time.perf_counter_ns() - t0
        keys = list(sketches.keys())
        blobs = [sketches[k].serialize() for k in keys]
        arrays = []
        for i, c in enumerate(group_cols):
            arrays.append(pa.array([k[i] for k in keys], type=out_type.field(i).type))
        arrays.append(pa.array(blobs, type=pa.binary()))
        if with_metrics:
            arrays.append(pa.array([key_rows[k] for k in keys], type=pa.int64()))
            arrays.append(pa.array([elapsed / max(nrows, 1)] * len(keys), type=pa.float64()))
            arrays.append(pa.array([len(b) for b in blobs], type=pa.int64()))
        yield pa.RecordBatch.from_arrays(arrays, names=[f.name for f in fields])

    return narrow.mapInArrow(build, out_schema)


def merge_blobs(blobs: Iterable[bytes], deserialize: Callable[[bytes], object]) -> bytes:
    """One group's merge (`hg64_merge` semantics, reference ``hg64.c:297-305``)
    of serialized partials, in the canonical order: sorted by blob bytes.

    hg64/HLL/CMS/Bloom merges are order-insensitive, so the order changes
    nothing for them, but KLL, t-digest AND MG are order-SENSITIVE — MG runs
    _shrink after every merge, so when intermediate merges overflow k the
    surviving counters depend on merge order (k=1 with partials {a:3},{b:3},
    {c:3}: ((A+B)+C) keeps c, ((A+C)+B) keeps b).  Without a canonical order
    the shuffle's arrival order (or the order files are listed in) would
    make those merged sketches vary run to run; the sort is load-bearing
    for all three.  With it, fixed input partitioning + partition-id-mixed
    seeds make the distributed build bit-reproducible at ANY cluster size,
    and every merge path (``merge_sketches``, ``merge_table``) agrees byte
    for byte."""
    ordered = sorted(bytes(b) for b in blobs)
    sk = deserialize(ordered[0])
    for b in ordered[1:]:
        sk.merge(deserialize(b))
    return sk.serialize()


def merge_sketches(
    partials: DataFrame,
    group_cols: Sequence[str],
    deserialize: Callable[[bytes], object],
) -> DataFrame:
    """Stages 2+3: shuffle partial sketches by group key and reduce each
    group with :func:`merge_table` (so with :func:`merge_blobs`).  Groups
    reach Python as Arrow tables, not pandas frames: pandas would turn a NaN
    group key into NULL on the way back."""
    group_cols = list(group_cols)
    fields = [f for f in partials.schema.fields if f.name in group_cols]
    out_schema = StructType(fields + [StructField("sketch", BinaryType(), False)])
    grouped = partials if group_cols else partials.withColumn(_GLOBAL_KEY, F.lit(0))
    keys = group_cols or [_GLOBAL_KEY]

    def reduce_group(table: pa.Table) -> pa.Table:
        out = merge_table(table.select([*group_cols, "sketch"]), len(group_cols), deserialize)
        # Spark hands a timestamp over in the session time zone and takes it
        # back only as UTC; the instant is the same
        return out.cast(
            pa.schema(
                f.with_type(pa.timestamp(f.type.unit, "UTC"))
                if pa.types.is_timestamp(f.type) and f.type.tz
                else f
                for f in out.schema
            )
        )

    return grouped.groupBy(*keys).applyInArrow(reduce_group, out_schema)


def merge_table(
    partials: pa.Table, n_group_cols: int, deserialize: Callable[[bytes], object]
) -> pa.Table:
    """Driver-side twin of :func:`merge_sketches` for partials already in
    memory: ``partials`` is (group..., sketch) with the first
    ``n_group_cols`` columns as the key.  Groups are cut with
    :func:`segment_record_batch`, so NULL is one group and every NaN is one
    group, as in Spark's ``groupBy``; each group is reduced with
    :func:`merge_blobs`.  Returns one row per group with ``partials``'
    schema, rows in group-code order."""
    rb = pa.RecordBatch.from_arrays(
        [c.combine_chunks() for c in partials.columns], schema=partials.schema
    )
    if n_group_cols:
        segments = segment_record_batch(rb, n_group_cols)
    else:
        segments = [((), np.arange(rb.num_rows))] if rb.num_rows else []
    blobs = rb.column(n_group_cols).to_pylist()
    groups: dict[tuple, list[bytes]] = {}
    first: list[int] = []
    for key, idx in segments:
        # dictionary encoding can split what groupBy joins (NaN payloads,
        # -0.0 vs 0.0); the keys rejoin them: every NaN key is the one
        # ``_NAN`` object (tuple equality checks identity first), -0.0 == 0.0
        members = groups.get(key)
        if members is None:
            members = groups[key] = []
            first.append(int(idx[0]))
        members.extend(blobs[i] for i in idx.tolist())
    # a group's key columns are taken (``take``) from its first row, which is
    # exact for every type, not rebuilt from the Python key values
    arrays = []
    for col in rb.take(pa.array(first, pa.int64())).columns[:n_group_cols]:
        if pa.types.is_floating(col.type):
            col = pc.add(col, pa.scalar(0.0, col.type))  # -0.0 + 0.0 is Spark's 0.0
        arrays.append(col)
    arrays.append(
        pa.array(
            [merge_blobs(b, deserialize) for b in groups.values()],
            type=rb.schema.field(n_group_cols).type,
        )
    )
    return pa.Table.from_arrays(arrays, schema=partials.schema)


def sketch_agg(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    make_sketch: Callable[[], object] = HG64,
    deserialize: Callable[[bytes], object] = HG64.deserialize,
    weight_col: str | None = None,
) -> DataFrame:
    """Full pipeline: (group_cols..., sketch binary), one row per group."""
    partials = sketch_partials(df, value_col, group_cols, make_sketch, weight_col=weight_col)
    return merge_sketches(partials, group_cols, deserialize)


def hg64_agg(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    sigbits: int = 5,
    method: str = "relational",
) -> DataFrame:
    """(group..., sketch): hg64 aggregation.

    method="relational" (default): pure-Catalyst keyed-count plan — the hot
    path for big scans (~16x the Arrow-UDF path in this sandbox; see
    ``relational.py``).  method="arrow": the generic vectorized-UDF partial/
    merge pipeline — used for checkpointed partials and as the reference
    implementation.  Both produce byte-identical sketch blobs (asserted in
    tests)."""
    if method == "relational":
        from hg64spark import relational

        return relational.hg64_agg_relational(df, value_col, group_cols, sigbits)
    return sketch_agg(df, value_col, group_cols, lambda: HG64(sigbits), HG64.deserialize)


def hg64_tree_agg(
    df: DataFrame,
    value_col: str,
    sigbits: int = 5,
    depth: int = 2,
) -> HG64:
    """Global aggregation via literal ``treeAggregate`` — the reference's
    `merged_load` writ large (`/root/reference/test.c:125-157`, SURVEY §2.4):
    one partial sketch per partition (stage 1), then an RDD treeAggregate of
    the tiny serialized blobs with the associative merge as both seqOp and
    combOp.  Returns the final sketch on the driver.  The tree keeps driver
    merge cost at O(keys x log(#partitions)); with ~1.4us per merge even 10^5
    partition sketches fold in well under a second."""
    partials = sketch_partials(df, value_col, [], lambda: HG64(sigbits))
    blobs = partials.select("sketch").rdd.map(lambda r: bytes(r["sketch"]))

    def seq_op(acc: HG64, blob: bytes) -> HG64:
        return acc.merge(HG64.deserialize(blob))

    def comb_op(a: HG64, b: HG64) -> HG64:
        return a.merge(b)

    return blobs.treeAggregate(HG64(sigbits), seq_op, comb_op, depth=depth)


def repartition_salted(df: DataFrame, cols: Sequence[str], buckets: int) -> DataFrame:
    """Explicit skew handling: spread hot group keys over ``buckets`` salted
    partitions before stage 1.  The salt mixes the group key with a row-local
    counter (monotonically_increasing_id), so even a key whose rows all sit
    in ONE input partition fans out across all buckets.  Because the sketch
    merge is exactly associative+commutative, no unsalting stage is needed —
    the group-by merge in stage 2 recombines the salted partials."""
    # salt domain 8x wider than the partition count: with only `buckets`
    # distinct salt values, hash-partitioning collides and leaves partitions
    # empty/doubled; 8x over-decomposition smooths the balls-into-bins
    # pmod, not abs+%: abs(Long.MIN_VALUE) overflows (an ANSI-mode job
    # failure in Spark 4) — astronomically rare per row, nonzero at 10^12
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in cols], F.monotonically_increasing_id()), F.lit(buckets * 8)
    )
    return df.repartition(buckets, salt.cast("int"))


# --------------------------------------------------------------------------
# finalizers: turn a (group..., sketch) frame into query results
# --------------------------------------------------------------------------


def _finalize(
    sketch_df: DataFrame,
    group_cols: Sequence[str],
    extra_fields: list[StructField],
    kernel: Callable[[HG64SnapshotMatrix], tuple[np.ndarray, list[np.ndarray]]],
) -> DataFrame:
    """One ``mapInArrow`` pass for every hg64 finalizer: each batch's sketch
    column is decoded into counter matrices (``hg64.decode_matrices``) and
    ``kernel`` answers all of a matrix's sketches at once, returning the
    sketch row behind each output row plus the extra output columns.  Group
    values are carried over with Arrow ``take``, never as Python objects;
    rows come out sketch-major, in input order."""
    gfields = [f for f in sketch_df.schema.fields if f.name in group_cols]
    out_schema = StructType(gfields + extra_fields)
    names = [f.name for f in out_schema.fields]
    ng = len(gfields)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            for sigbits, start, counters in decode_matrices(rb.column(ng).to_pylist()):
                src, cols = kernel(HG64SnapshotMatrix(sigbits, counters))
                take = pa.array(src + start)
                arrays = [rb.column(i).take(take) for i in range(ng)]
                yield pa.RecordBatch.from_arrays(arrays + [pa.array(c) for c in cols], names=names)

    return sketch_df.select(*[f.name for f in gfields], "sketch").mapInArrow(fn, out_schema)


def _grid(params: np.ndarray, answers: np.ndarray) -> tuple[np.ndarray, list[np.ndarray]]:
    """Kernel output for a (sketches x params) answer matrix: one row per
    sketch per parameter, sketch-major."""
    n = answers.shape[0]
    return np.repeat(np.arange(n), params.size), [np.tile(params, n), answers.ravel()]


def hg64_quantiles(
    sketch_df: DataFrame, group_cols: Sequence[str], qs: Sequence[float]
) -> DataFrame:
    """(group..., q double, value long) — `hg64s_value_at_quantile`
    (`/root/reference/hg64.c:431-436`) per group per q; an empty sketch or
    q >= 1 gives UINT64_MAX, i.e. -1 as a long."""
    qarr = np.asarray(list(qs), dtype=np.float64)

    def kernel(snap: HG64SnapshotMatrix):
        return _grid(qarr, snap.value_at_quantile(qarr).astype(np.int64))

    extra = [StructField("q", DoubleType(), False), StructField("value", LongType(), False)]
    return _finalize(sketch_df, group_cols, extra, kernel)


def hg64_buckets(sketch_df: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """(group..., key, bucket_min, bucket_max, count) — the exploded
    `hg64_get` view (`/root/reference/hg64.c:272-283`), nonzero buckets only."""

    def kernel(snap: HG64SnapshotMatrix):
        rows, *cols = snap.buckets()
        return rows, [c.astype(np.int64) for c in cols]

    extra = [
        StructField("key", LongType(), False),
        StructField("bucket_min", LongType(), False),
        StructField("bucket_max", LongType(), False),
        StructField("count", LongType(), False),
    ]
    return _finalize(sketch_df, group_cols, extra, kernel)


def hg64_ranks(
    sketch_df: DataFrame, group_cols: Sequence[str], probes: Sequence[int]
) -> DataFrame:
    """(group..., probe, rank) — `hg64s_rank_of_value`
    (`/root/reference/hg64.c:410-429`) for each probe value."""
    parr = np.asarray(list(probes), dtype=np.uint64)

    def kernel(snap: HG64SnapshotMatrix):
        return _grid(parr.astype(np.int64), snap.rank_of_value(parr).astype(np.int64))

    extra = [StructField("probe", LongType(), False), StructField("rank", LongType(), False)]
    return _finalize(sketch_df, group_cols, extra, kernel)


def hg64_qov(
    sketch_df: DataFrame, group_cols: Sequence[str], probes: Sequence[int]
) -> DataFrame:
    """(group..., probe, q) — `hg64s_quantile_of_value`
    (`/root/reference/hg64.c:438-442`): rank_of_value / population, the FP
    division being the only non-integer op (so a SQL oracle agrees bitwise);
    NaN for an empty sketch."""
    parr = np.asarray(list(probes), dtype=np.uint64)

    def kernel(snap: HG64SnapshotMatrix):
        return _grid(parr.astype(np.int64), snap.quantile_of_value(parr))

    extra = [StructField("probe", LongType(), False), StructField("q", DoubleType(), False)]
    return _finalize(sketch_df, group_cols, extra, kernel)


def hg64_stats(sketch_df: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """(group..., population, mean, variance) from integer-exact midpoint sums
    (FP only in the final two scalar ops, so a SQL oracle agrees bitwise);
    all three are 0 for an empty sketch."""

    def kernel(snap: HG64SnapshotMatrix):
        s1, s2, pop = snap.midpoint_stats_exact()
        # op order matches the SQL oracle exactly: round each exact integer
        # sum to double FIRST, then divide — so DuckDB agrees bit-for-bit
        popf = pop.astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            mean = np.where(pop > 0, s1.astype(np.float64) / (2.0 * popf), 0.0)
            var = np.where(pop > 0, s2.astype(np.float64) / (4.0 * popf) - mean * mean, 0.0)
        return np.arange(pop.size), [pop.astype(np.int64), mean, var]

    extra = [
        StructField("population", LongType(), False),
        StructField("mean", DoubleType(), False),
        StructField("variance", DoubleType(), False),
    ]
    return _finalize(sketch_df, group_cols, extra, kernel)
