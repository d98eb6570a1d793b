"""Relational (pure-Catalyst) sketch construction — the 100TB hot path.

The decisive observation: an hg64 "update" is just a keyed count, and
Catalyst already ships a partial+final count aggregate with whole-stage
codegen and map-side combine.  So the scan -> bucket-key -> count pipeline
never crosses the JVM/Python boundary at all:

    scan (parquet/Iceberg, column-pruned, filter-pushed)
      -> project: key = hg64 bucket key, computed with INTEGER-ONLY
         expressions (bit-smear floor_log2 via bit_count — no strings, no
         UDFs, stays inside WholeStageCodegen)
      -> HashAggregate partial (per-partition (group, key) counts: the exact
         analogue of the reference's per-thread private sketch,
         `/root/reference/test.c:125-157`)
      -> shuffle of <= (64-sigbits+1)*2^sigbits counts per group
      -> HashAggregate final (the associative merge = integer add, what
         `hg64_merge` does at same sigbits, `/root/reference/hg64.c:297-305`)
      -> tiny applyInPandas: fold <= 1920 (key, count) rows/group into a
         serialized sketch blob

Measured in this sandbox: ~27M rows/s at local[8] vs ~4.5M rows/s for the
Arrow-UDF path — the JVM->Python Arrow stream is the bottleneck the moment
per-row data crosses it, so at scale it must only ever carry aggregates.
The vectorized numpy path (`agg.sketch_partials`) remains the generic
protocol for sketches Catalyst can't express (KLL) and for checkpointed
partials.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from hg64spark import keymath as km
from hg64spark.hg64 import HG64
from hg64spark.localrel import local_rows_df

_GLOBAL = "__hg64_g__"

#: largest user-declared Bloom size whose global build folds driver-side:
#: 2^21 bits = 32k word rows collected, a 256 KB sketch whose hex VALUES
#: literal stays under localrel's SQL-size cap; bigger filters keep the
#: executor-side fold
_BLOOM_DRIVER_FOLD_MAX_BITS = 1 << 21


def floor_log2_col(col: Column) -> Column:
    """Exact integer floor(log2(x)) for x >= 1 as a Catalyst expression:
    bit-smear then popcount (the branchless CLZ idiom, same trick the
    reference leans on via __builtin_clzll, `/root/reference/hg64.c:186`).
    Also correct when bit 63 is set (arithmetic shift smears to -1,
    bit_count 64)."""
    x = col
    for s in (1, 2, 4, 8, 16, 32):
        x = x.bitwiseOR(F.shiftright(x, s))
    return F.bit_count(x) - F.lit(1)


def with_hg64_key(df: DataFrame, value_col: str, sigbits: int, key_col: str = "hg64_key") -> DataFrame:
    """Append the hg64 bucket key of ``value_col`` (`value_to_key`,
    `/root/reference/hg64.c:180-193`), nulls dropped.  The exponent is
    materialized as a named column because shiftright-by-column is only
    expressible over named columns.  Verified equal to the numpy kernel over
    boundary values by the test suite."""
    sb = km.check_sigbits(sigbits)
    bs = 1 << sb
    exp_col = f"__{key_col}_exp"
    binned = F.col(value_col).bitwiseOR(F.lit(bs))
    exponent = (floor_log2_col(binned) - F.lit(sb)).cast("int")
    # negative values must FAIL the job (matching HG64.add_values's
    # ValueError), not silently mis-bucket: arithmetic shiftright would
    # sign-extend them into the top bucket otherwise
    guarded = F.expr(
        f"CASE WHEN {value_col} < 0 THEN "
        f"CAST(raise_error('hg64 ingests unsigned values; got negative {value_col}') AS INT) "
        f"ELSE 0 END"
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .withColumn(exp_col, exponent + guarded)
        .withColumn(
            key_col,
            (F.col(exp_col) * bs + F.expr(f"shiftright({value_col}, {exp_col})")).cast("int"),
        )
        .drop(exp_col)
    )


def hg64_counts(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    sigbits: int = 5,
    weight_col: str | None = None,
    fused_group_domain: int | None = None,
) -> DataFrame:
    """(group..., hg64_key, count) — the sketch in relational form.  This IS
    a valid query result on its own (the exploded-bucket view) and the input
    to sketch materialization.  With ``weight_col`` the update is the
    reference's weighted `hg64_add(value, inc)` (`hg64.c:251-254`):
    count = sum of weights per bucket.

    ``fused_group_domain``: opt-in hot-path for ONE integer group column
    whose values are known to lie in [0, domain) — the group value and the
    hg64 key are fused into a single long (group*nkeys + key) so the
    per-row HashAggregate probe hashes/compares ONE column instead of two,
    then un-fused exactly after the (tiny) aggregate.  Measured ~1.5x on
    the sketch-marginal ingest rate at 500M rows, local[32]: 309 -> 472M
    upd/s on one recorded run, 367 -> 513M on another — absolute numbers
    move with box weather, the ~1.5x ratio is the stable part.  Exactness is preserved: NULL group values get their own
    fused slot (= domain) and come back as NULL; a value outside the
    declared domain FAILS the job plan-side rather than aliasing into
    another group's slot."""
    group_cols = list(group_cols)
    cols = [*group_cols, value_col] + ([weight_col] if weight_col else [])
    keyed = with_hg64_key(df.select(*cols), value_col, sigbits)
    agg_expr = (
        F.sum(_guarded_weight(weight_col)).alias("count")
        if weight_col
        else F.count("*").alias("count")
    )
    if fused_group_domain is not None:
        from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

        if len(group_cols) != 1:
            raise ValueError("fused_group_domain requires exactly one group column")
        g = group_cols[0]
        gtype = dict((f.name, f.dataType) for f in df.schema.fields)[g]
        # integral only: a fractional group value would TRUNCATE through the
        # cast-to-long and silently alias into another group's slot (2.5 ->
        # slot 2), and a non-numeric one would cast to NULL and merge with
        # genuine NULL groups — both contradict the fails-not-aliases
        # contract, so reject the column type up front
        if not isinstance(gtype, (ByteType, ShortType, IntegerType, LongType)):
            raise ValueError(
                f"fused_group_domain requires an integral group column; {g!r} is {gtype}"
            )
        nk = km.nkeys(sigbits)
        dom = int(fused_group_domain)
        if dom <= 0 or dom * nk >= (1 << 62):
            raise ValueError(f"fused_group_domain out of range: {dom}")
        gval = F.col(g).cast("long")
        guard = F.when(
            (gval < 0) | (gval >= dom),
            F.expr("CAST(raise_error('group value outside fused_group_domain') AS LONG)"),
        ).otherwise(gval)
        slot = F.coalesce(guard, F.lit(dom))  # NULL group -> its own slot
        fused = keyed.select(
            (slot * nk + F.col("hg64_key")).alias("__gk"),
            *([weight_col] if weight_col else []),
        )
        out = fused.groupBy("__gk").agg(agg_expr)
        # integer div, NOT `/`: float division loses exactness past 2^53
        gslot = F.expr(f"__gk div {nk}")
        return out.select(
            F.when(gslot == dom, F.lit(None))
            .otherwise(gslot)
            .cast(gtype)
            .alias(g),
            F.pmod("__gk", F.lit(nk)).cast("int").alias("hg64_key"),
            "count",
        )
    return keyed.groupBy(*group_cols, "hg64_key").agg(agg_expr)


def _guarded_weight(weight_col: str) -> Column:
    """Weight column with the Python sketches' contract enforced plan-side:
    a negative weight FAILS the job (KLL/t-digest/MG raise ValueError; CMS's
    never-underestimate guarantee silently breaks on negative adds —
    `hg64_add`'s inc is uint64, `/root/reference/hg64.h:60-63`).  Fractional
    weights remain the caller's contract (the gates use integer columns).

    Built with the Column API (not an interpolated SQL string) so column
    names needing backticks — spaces, hyphens, dots — resolve like every
    other path that uses F.col(weight_col)."""
    # the column NAME rides inside the SQL string literal (standard ''
    # doubling for any embedded quote), so failure messages still say which
    # weight column went negative without the name touching SQL syntax
    safe_name = weight_col.replace("'", "''")
    guard = F.when(
        F.col(weight_col) < 0,
        F.expr(
            f"CAST(raise_error('sketch weights must be non-negative; "
            f"got negative {safe_name}') AS LONG)"
        ),
    ).otherwise(F.lit(0).cast("long"))
    return F.col(weight_col) + guard


# ------------------------------------------------------------------ HLL/Bloom
#
# The same no-Python-in-the-hot-path treatment for the companions whose
# updates reduce to built-in aggregates: HLL registers are a grouped MAX,
# Bloom words are a grouped BIT_OR.  Hashing uses Spark's xxhash64 (JVM,
# codegen), so these sketches carry hash_family=XXHASH64 and refuse to merge
# with siphash-built ones (enforced by the sketch headers).


def _clz64(col: Column) -> Column:
    """Count of leading zeros of a 64-bit column (0 -> 64), integer-only.
    Exactly 63 - floor_log2 (floor_log2_col(0) = -1 makes the 0 case work)."""
    return F.lit(63) - floor_log2_col(col)


def hll_agg_relational(
    df: DataFrame, value_col: str, group_cols: Sequence[str] = (), p: int = 14
) -> DataFrame:
    """(group..., sketch): HLL built entirely with Catalyst aggregates —
    register index = top p bits of xxhash64, rho = clz(remaining bits)+1,
    registers = grouped MAX.  <= 2^p rows/group reach Python."""
    from hg64spark.sketches.hll import HASH_XXHASH64, HLL

    group_cols = list(group_cols)
    base = df.filter(F.col(value_col).isNotNull())
    h = F.xxhash64(F.col(value_col))
    w = F.shiftleft(h, p)
    rho = F.when(w == 0, F.lit(64 - p + 1)).otherwise(_clz64(w) + F.lit(1))
    regs = (
        base.select(
            *group_cols,
            F.shiftrightunsigned(h, 64 - p).cast("int").alias("hll_idx"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "hll_idx")
        .agg(F.max("rho").alias("rho"))
    )
    fields = [f for f in regs.schema.fields if f.name in group_cols]
    out_schema = StructType(fields + [StructField("sketch", BinaryType(), False)])
    if not group_cols:
        # global build: the register frame is <= 2^p rows BY CONSTRUCTION,
        # so the finalizer folds driver-side (identical numpy register
        # assignment) and returns a LocalRelation — no _GLOBAL exchange, no
        # Python worker stage on the query tail.  Zero register rows (empty
        # input) yields an empty frame, exactly like the zero-group
        # applyInPandas it replaces.

        rows = regs.collect()
        out_rows = []
        if rows:
            sk = HLL(p, hash_family=HASH_XXHASH64)
            sk.registers[np.array([r["hll_idx"] for r in rows])] = np.array(
                [r["rho"] for r in rows], dtype=np.uint8
            )
            out_rows = [(bytearray(sk.serialize()),)]
        return local_rows_df(df.sparkSession, out_rows, "sketch binary")
    grouped = regs
    keys = group_cols

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = HLL(p, hash_family=HASH_XXHASH64)
        sk.registers[pdf["hll_idx"].to_numpy()] = pdf["rho"].to_numpy().astype(np.uint8)
        out = {g: [pdf[g].iloc[0]] for g in group_cols}
        out["sketch"] = [sk.serialize()]
        return pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return grouped.groupBy(*keys).applyInPandas(fold, out_schema)


def _bloom_positions(value_col: str, n_bits: int, n_hashes: int) -> Column:
    """Array of bit positions via double hashing h1 + i*h2 mod n_bits.

    Both hashes are reduced mod n_bits BEFORE combining so the arithmetic
    never overflows a long (Spark 4 runs in ANSI mode — wrap-around adds
    throw).  h2 is forced odd pre-reduction; n_bits is a power of two times
    64, so the stride still covers the table."""
    h1 = F.pmod(F.xxhash64(F.col(value_col)), F.lit(n_bits))
    h2 = F.pmod(F.xxhash64(F.col(value_col), F.lit(1)).bitwiseOR(F.lit(1)), F.lit(n_bits))
    return F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(n_bits)) for i in range(n_hashes)])


def bloom_words_relational(
    df: DataFrame,
    value_col: str,
    n_bits: int = 1 << 20,
    n_hashes: int = 7,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """The Bloom filter AS a DataFrame — (group..., word_idx, word), words =
    grouped BIT_OR of exploded bit positions, <= n_bits/64 rows per group.
    This is the fully-distributed build (per-partition partial BIT_ORs are
    Catalyst's map-side combine; the merge is the shuffle reduce): no
    driver round-trip, composable with ``bloom_contains_relational`` for a
    probe that is a broadcast join against the words table."""
    group_cols = list(group_cols)
    pos = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, F.explode(_bloom_positions(value_col, n_bits, n_hashes)).alias("pos"))
    )
    return (
        pos.select(
            *group_cols,
            F.shiftright(F.col("pos"), 6).cast("int").alias("word_idx"),
            F.expr("shiftleft(1L, int(pos % 64))").alias("bit"),
        )
        .groupBy(*group_cols, "word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )


def bloom_agg_relational(
    df: DataFrame,
    value_col: str,
    n_bits: int = 1 << 20,
    n_hashes: int = 7,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """(group..., sketch): Bloom filter built with Catalyst — bit positions
    exploded, words = grouped BIT_OR of shifted ones.  <= n_bits/64 rows per
    group reach Python (one filter per group with ``group_cols``)."""
    from hg64spark.sketches.bloom import HASH_XXHASH64, Bloom

    group_cols = list(group_cols)
    words = bloom_words_relational(df, value_col, n_bits, n_hashes, group_cols)
    if not group_cols and n_bits <= _BLOOM_DRIVER_FOLD_MAX_BITS:
        # global build: the words frame is <= n_bits/64 rows BY
        # CONSTRUCTION — driver-side fold + LocalRelation result, same as
        # the global HLL/CMS finalizers (and the same empty-input
        # semantics: zero word rows -> empty frame).  Unlike those, the
        # bound is user-declared, so filters past the cap keep the
        # executor-side fold below instead of collecting n_bits/64 rows
        # to the driver.
        rows = words.collect()
        out_rows = []
        if rows:
            sk = Bloom(n_bits, n_hashes, hash_family=HASH_XXHASH64)
            sk.words[np.array([r["word_idx"] for r in rows])] = np.array(
                [r["word"] for r in rows], dtype=np.int64
            ).view(np.uint64)
            out_rows = [(bytearray(sk.serialize()),)]
        return local_rows_df(df.sparkSession, out_rows, "sketch binary")
    fields = [f for f in words.schema.fields if f.name in group_cols]
    out_schema = StructType(fields + [StructField("sketch", BinaryType(), False)])
    grouped = words if group_cols else words.withColumn(_GLOBAL, F.lit(0))
    keys = group_cols or [_GLOBAL]

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = Bloom(n_bits, n_hashes, hash_family=HASH_XXHASH64)
        sk.words[pdf["word_idx"].to_numpy()] = pdf["word"].to_numpy().view(np.uint64)
        out = {g: [pdf[g].iloc[0]] for g in group_cols}
        out["sketch"] = [sk.serialize()]
        return pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return grouped.groupBy(*keys).applyInPandas(fold, out_schema)


def bloom_prune_relational(
    probes: DataFrame,
    probe_col: str,
    words: DataFrame,
    n_bits: int,
    n_hashes: int,
) -> DataFrame:
    """Filter ``probes`` to the rows the Bloom (as a words DataFrame from
    ``bloom_words_relational``) reports as contained — with ZERO shuffle on
    the probe side.  Instead of explode + groupBy-reassembly (what
    ``bloom_contains_relational`` does to support per-group filters), the
    k bit tests are a CONJUNCTION of k broadcast hash joins against the
    same words table: broadcast joins are map-side, Catalyst's ReuseExchange
    dedupes the k identical broadcast subplans, and the whole prune stays
    inside the probe scan's stage — the shape that keeps a 100 TB raw
    stream un-Exchanged.  NULL probe values are dropped (not-contained):
    xxhash64(NULL) would otherwise probe the seed-hash positions.
    No false negatives, same guarantee as the sketch."""
    pos = _bloom_positions(probe_col, n_bits, n_hashes)
    out = probes.filter(F.col(probe_col).isNotNull()).withColumn("__pos", pos)
    conds = []
    for i in range(n_hashes):
        wi = words.select(
            F.col("word_idx").alias(f"__wi{i}"), F.col("word").alias(f"__w{i}")
        )
        out = out.withColumn(
            f"__idx{i}", F.shiftright(F.element_at("__pos", i + 1), 6).cast("int")
        ).join(F.broadcast(wi), F.col(f"__idx{i}") == F.col(f"__wi{i}"), "left")
        conds.append(
            F.coalesce(F.col(f"__w{i}"), F.lit(0)).bitwiseAND(
                F.expr(f"shiftleft(1L, int(element_at(__pos, {i + 1}) % 64))")
            )
            != 0
        )
    keep = conds[0]
    for c in conds[1:]:
        keep = keep & c
    return out.filter(keep).select(*probes.columns)


def bloom_contains_relational(
    probes: DataFrame,
    probe_col: str,
    words: DataFrame,
    n_bits: int,
    n_hashes: int,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Membership check without deserializing the filter: explode probe bit
    positions, broadcast-join the words table, AND the bits back together.
    Returns the probe rows plus ``bloom_contains`` boolean.  At cluster scale
    this is a broadcast hash join against <= n_bits/64 rows — no driver
    round-trip of the filter.  With ``group_cols`` the probe checks each row
    against ITS group's filter (``words`` must carry the group columns).

    Shape: ONE linear pipeline — the probe row rides through the explode as a
    struct and a generated id disambiguates duplicate rows.  (The obvious
    p-join-hit shape would evaluate the probes subtree twice, and
    monotonically_increasing_id is only consistent within one evaluation:
    nondeterministic input ordering or a task retry could pair a probe with
    another row's verdict.)"""
    group_cols = list(group_cols)
    out_cols = probes.columns
    base = probes.select(
        F.monotonically_increasing_id().alias("__pid"),
        F.struct(*out_cols).alias("__row"),
        F.col(probe_col).alias("__pv"),
    )
    # NULL probe value => DEFINED not-contained, not the filter's verdict on
    # hash-of-nothing: Spark's xxhash64(NULL) returns the seed, so without
    # this guard a NULL probe would test the seed-hash positions and could
    # report true at the filter's normal FP rate.  Empty position array +
    # posexplode_outer keeps the row (one null-position child) and the
    # coalesce chain below resolves it to false.
    guarded = F.when(F.col("__pv").isNull(), F.array().cast("array<bigint>")).otherwise(
        _bloom_positions("__pv", n_bits, n_hashes)
    )
    pos = base.select(
        "__pid",
        "__row",
        F.posexplode_outer(guarded).alias("__i", "pos"),
    ).select(
        "__pid",
        "__row",
        F.shiftright(F.col("pos"), 6).cast("int").alias("word_idx"),
        F.expr("shiftleft(1L, int(pos % 64))").alias("bit"),
        *[F.col(f"__row.{c}").alias(c) for c in group_cols],
    )
    return (
        pos.join(F.broadcast(words), [*group_cols, "word_idx"], "left")
        .select(
            "__pid",
            "__row",
            (
                F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.coalesce(F.col("bit"), F.lit(0)))
                != 0
            ).alias("bit_set"),
        )
        .groupBy("__pid", "__row")
        .agg(F.min(F.coalesce(F.col("bit_set"), F.lit(False))).alias("bloom_contains"))
        .select(*[F.col(f"__row.{c}").alias(c) for c in out_cols], "bloom_contains")
    )


def minval_col(key: str, sigbits: int) -> Column:
    """`key_to_minval` (`hg64.c:156-162`) over a named key column."""
    bs = 1 << sigbits
    # mantissa must be BIGINT before the shift: shiftleft on INT wraps at 2^32
    return F.when(F.col(key) < bs, F.col(key).cast("long")).otherwise(
        F.expr(f"shiftleft(CAST(({key} % {bs}) + {bs} AS BIGINT), int({key} / {bs}) - 1)")
    )


def maxval_col(key: str, sigbits: int) -> Column:
    """`key_to_maxval` (`hg64.c:164-174`) over a named key column."""
    bs = 1 << sigbits
    return minval_col(key, sigbits) + F.expr(f"shiftright({(1 << 62) - 1}L, 63 - int({key} / {bs}))")


def hg64_quantiles_relational(
    df: DataFrame,
    value_col: str,
    qs: Sequence[float],
    group_cols: Sequence[str] = (),
    sigbits: int = 5,
) -> DataFrame:
    """(group..., q, value): the COMPLETE hg64 quantile query with zero
    Python anywhere — keyed counts, cumulative rank scan (window over <= 1920
    keys/group), and in-bucket interpolation all as Catalyst expressions.
    Bit-identical to the numpy finalizer (`HG64Snapshot.value_at_quantile`):
    same IEEE-754 ops in the same order (rank = trunc(q*pop),
    value = min + trunc(span * (rank_in/cnt)))."""
    qs = [float(q) for q in qs]
    if any(q < 0.0 or q >= 1.0 for q in qs):
        raise ValueError(
            "hg64_quantiles_relational requires 0 <= q < 1: q=1.0's UINT64_MAX "
            "sentinel has no BIGINT representation in a relational result "
            "(the sketch-object path returns it wrapped as -1)"
        )
    counts = hg64_counts(df, value_col, list(group_cols), sigbits)
    return hg64_quantiles_from_counts(counts, qs, group_cols, sigbits)


def _rank_hits(
    counts: DataFrame, qs: Sequence[float], group_cols: Sequence[str]
) -> tuple[DataFrame, DataFrame, Column]:
    """The quantile rank scan — per-group inclusive cumulative + population
    window over <= nkeys bucket rows, crossed with the q probes, filtered
    to the bucket containing rank = floor(q*pop) (`value_at_quantile`'s
    clamp semantics).  Returns (cum frame, hit frame, rank Column).  ONE
    definition shared by the quantile finalizer and the trimmed-stats
    thresholds: the trimmed docstring's "lo_key/hi_key are exactly the
    buckets value_at_quantile reads" is structural, not a copy to keep in
    sync."""
    from pyspark.sql import Window

    group_cols = list(group_cols)
    wpart = Window.partitionBy(*group_cols) if group_cols else Window.partitionBy(F.lit(0))
    cum = counts.withColumn(
        "cum_incl", F.sum("count").over(wpart.orderBy("hg64_key"))
    ).withColumn("pop", F.sum("count").over(wpart))
    # VALUES LocalRelation (localrel module docstring): the q-probe frame is
    # broadcast inside every quantile/trimmed-stats query, and the
    # createDataFrame form pays a defaultParallelism-task Python-RDD job to
    # build that broadcast each time
    qdf = cum.crossJoin(
        F.broadcast(
            local_rows_df(counts.sparkSession, [(float(q),) for q in qs], "q double")
        )
    )
    rank = F.floor(F.col("q") * F.col("pop").cast("double")).cast("long")
    hit = qdf.filter((rank >= F.col("cum_incl") - F.col("count")) & (rank < F.col("cum_incl")))
    return cum, hit, rank


def hg64_quantiles_from_counts(
    counts: DataFrame,
    qs: Sequence[float],
    group_cols: Sequence[str] = (),
    sigbits: int = 5,
) -> DataFrame:
    """The quantile finalizer over a precomputed (group..., hg64_key, count)
    frame — lets callers supply counts from any build (plain groupBy,
    GROUPING SETS / cube cells, streaming window output) and share the
    identical rank/interpolation math."""
    qs = [float(q) for q in qs]
    if any(q < 0.0 or q >= 1.0 for q in qs):
        raise ValueError("hg64_quantiles_from_counts requires 0 <= q < 1")
    group_cols = list(group_cols)
    _, hit, rank = _rank_hits(counts, qs, group_cols)
    mn = minval_col("hg64_key", sigbits)
    span = (maxval_col("hg64_key", sigbits) - mn).cast("double")
    rank_in = (rank - (F.col("cum_incl") - F.col("count"))).cast("double")
    value = (mn + F.floor(span * (rank_in / F.col("count").cast("double"))).cast("long")).alias("value")
    return hit.select(*group_cols, "q", value)


def hg64_trimmed_stats(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    sigbits: int = 5,
    qlo: float = 0.05,
    qhi: float = 0.95,
    weight_col: str | None = None,
) -> DataFrame:
    """(group..., lo_key, hi_key, trimmed_n, trimmed_sum, trimmed_mean):
    inter-quantile TRIMMED statistics straight from the sketch — the
    robust mean a latency/size dashboard actually wants (outlier decades
    discarded) without a second pass over the data.  Trimming is
    bucket-granular: keep every bucket from the one containing the
    qlo-rank through the one containing the qhi-rank (the same
    rank = floor(q*pop) clamp semantics as `value_at_quantile`), then
    trimmed_sum = sum(count * bucket minval) — a LOWER-BOUND mean with
    the histogram's 2^-sigbits relative resolution, exactly like every
    other value this library reads back out of buckets.

    Exactness: the sum runs in decimal(38,0) because count * minval can
    exceed int64 (minval reaches 2^63 in the top decades); exact to 10^38
    and ANSI-loud past it.  trimmed_mean divides the two exact integers
    once, double-cast — bit-identical in any engine, any partitioning.

    Plan shape: the quantile finalizer's per-group cumulative window over
    <= nkeys bucket rows, one tiny threshold table (2 rows per group)
    broadcast back onto the counts frame, one aggregation.  Nothing after
    the keyed-count aggregate scales with input rows.  With ``weight_col``
    the trimmed statistics are over the weight-mass distribution (counts
    are weight sums; a zero-mass group reports an all-NULL row)."""
    counts = hg64_counts(
        df, value_col, list(group_cols), sigbits, weight_col=weight_col
    )
    return hg64_trimmed_stats_from_counts(counts, group_cols, sigbits, qlo, qhi)


def hg64_trimmed_stats_from_counts(
    counts: DataFrame,
    group_cols: Sequence[str] = (),
    sigbits: int = 5,
    qlo: float = 0.05,
    qhi: float = 0.95,
) -> DataFrame:
    """:func:`hg64_trimmed_stats` over a precomputed (group..., hg64_key,
    count) frame — the retained-state entry point, sharing the quantile
    finalizer's rank/clamp semantics (via the common :func:`_rank_hits`
    scan) so lo_key/hi_key are exactly the buckets
    `value_at_quantile(qlo/qhi)` reads.  A ZERO-MASS group (weighted
    build, weights summing to 0) reports an all-NULL row rather than
    disappearing — the drift family's inventory contract."""
    qlo, qhi = float(qlo), float(qhi)
    if not (0.0 <= qlo <= qhi < 1.0):
        raise ValueError(f"need 0 <= qlo <= qhi < 1, got ({qlo}, {qhi})")
    group_cols = list(group_cols)
    cum, hit, _ = _rank_hits(counts, [qlo, qhi], group_cols)
    thresholds = hit.groupBy(*group_cols).agg(
        F.min(F.when(F.col("q") == qlo, F.col("hg64_key"))).alias("lo_key"),
        F.min(F.when(F.col("q") == qhi, F.col("hg64_key"))).alias("hi_key"),
    )
    if group_cols:
        # NULL-SAFE group equality (the drift family's lesson): a NULL
        # group is a group like any other; a plain equi-join would drop
        # its threshold row and silently omit the group from the output
        th = thresholds.select(
            *[F.col(c).alias(f"__th_{c}") for c in group_cols], "lo_key", "hi_key"
        )
        cond = None
        for c in group_cols:
            e = F.col(c).eqNullSafe(F.col(f"__th_{c}"))
            cond = e if cond is None else (cond & e)
        joined = cum.join(F.broadcast(th), cond).drop(
            *[f"__th_{c}" for c in group_cols]
        )
    else:
        joined = cum.crossJoin(F.broadcast(thresholds))
    dec = "decimal(38,0)"
    mn = minval_col("hg64_key", sigbits)
    # top-decade minvals (>= 2^63) wrap negative in int64 (shiftleft is a
    # bitwise op, not ANSI arithmetic); restore the unsigned value in
    # decimal so the sum is exact over the FULL u64 value domain
    mn_u = mn.cast(dec) + F.when(
        mn < 0, F.expr(f"CAST('{1 << 64}' AS {dec})")
    ).otherwise(F.expr(f"CAST(0 AS {dec})"))
    stats = (
        joined.filter(
            (F.col("hg64_key") >= F.col("lo_key")) & (F.col("hg64_key") <= F.col("hi_key"))
        )
        .groupBy(*group_cols, "lo_key", "hi_key")
        .agg(
            F.sum("count").alias("trimmed_n"),
            F.sum(F.col("count").cast(dec) * mn_u).alias("trimmed_sum"),
        )
        .select(
            *group_cols,
            "lo_key",
            "hi_key",
            "trimmed_n",
            "trimmed_sum",
            (
                F.col("trimmed_sum").cast("double")
                / F.col("trimmed_n").cast("double")
            ).alias("trimmed_mean"),
        )
    )
    if not group_cols:
        return stats
    # ZERO-MASS groups (weighted builds whose weights sum to 0) have no
    # rank-hit bucket, so they vanish from `stats` — restore them as
    # all-NULL rows to match the drift family's "a group like any other,
    # NULL statistic" inventory contract (null-safe: a NULL group value
    # is itself a group)
    grp = counts.select(*group_cols).distinct()
    st = stats.select(
        *[F.col(c).alias(f"__st_{c}") for c in group_cols],
        "lo_key",
        "hi_key",
        "trimmed_n",
        "trimmed_sum",
        "trimmed_mean",
    )
    cond = None
    for c in group_cols:
        e = F.col(c).eqNullSafe(F.col(f"__st_{c}"))
        cond = e if cond is None else (cond & e)
    return grp.join(F.broadcast(st), cond, "left").select(
        *group_cols, "lo_key", "hi_key", "trimmed_n", "trimmed_sum", "trimmed_mean"
    )


def bloom_words_df(spark, bloom) -> DataFrame:
    """Nonzero Bloom words as a (word_idx, word) DataFrame — the broadcast
    side of :func:`bloom_contains_relational` when starting from a
    deserialized sketch."""
    rows = [
        (i, int(w) - (1 << 64) if int(w) >= (1 << 63) else int(w))
        for i, w in enumerate(bloom.words.tolist())
        if int(w) != 0
    ]
    if not rows:
        return spark.createDataFrame([], "word_idx int, word long")
    return spark.createDataFrame(rows, "word_idx int, word long")


def _cms_indices(value_col: str, width: int, depth: int) -> Column:
    return F.array(
        *[F.pmod(F.xxhash64(F.col(value_col), F.lit(1000 + j)), F.lit(width)) for j in range(depth)]
    )


def cms_agg_relational(
    df: DataFrame,
    value_col: str,
    width: int = 4096,
    depth: int = 5,
    group_cols: Sequence[str] = (),
    weight_col: str | None = None,
) -> DataFrame:
    """(group..., sketch): count-min built with Catalyst — per-row indices
    exploded, grouped count per (group, row, index).  <= width*depth rows
    per group reach Python (one sketch per group with ``group_cols``).
    With ``weight_col`` each row adds its integer weight instead of 1
    (`hg64_add(value, inc)` semantics across the companions; NULL weight
    contributes nothing, matching SQL sum)."""
    from hg64spark.sketches.cms import CMS, HASH_XXHASH64

    group_cols = list(group_cols)
    cnt = (
        F.count("*")
        if weight_col is None
        else F.coalesce(F.sum(_guarded_weight(weight_col)), F.lit(0))
    )
    wcols = [weight_col] if weight_col else []
    cells = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            *group_cols,
            *wcols,
            F.posexplode(_cms_indices(value_col, width, depth)).alias("row_j", "idx"),
        )
        .groupBy(*group_cols, "row_j", "idx")
        .agg(cnt.cast("long").alias("cnt"))
    )
    fields = [f for f in cells.schema.fields if f.name in group_cols]
    out_schema = StructType(fields + [StructField("sketch", BinaryType(), False)])
    if not group_cols:
        # global build: the cell frame is <= width x depth rows BY
        # CONSTRUCTION — driver-side fold + LocalRelation result, same as
        # the global HLL finalizer (and the same empty-input semantics:
        # zero cells -> empty frame)

        rows = cells.collect()
        out_rows = []
        if rows:
            sk = CMS(width, depth, hash_family=HASH_XXHASH64)
            sk.counts[
                np.array([r["row_j"] for r in rows]),
                np.array([r["idx"] for r in rows]),
            ] = np.array([r["cnt"] for r in rows])
            out_rows = [(bytearray(sk.serialize()),)]
        return local_rows_df(df.sparkSession, out_rows, "sketch binary")
    grouped = cells
    keys = group_cols

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = CMS(width, depth, hash_family=HASH_XXHASH64)
        sk.counts[pdf["row_j"].to_numpy(), pdf["idx"].to_numpy()] = pdf["cnt"].to_numpy()
        out = {g: [pdf[g].iloc[0]] for g in group_cols}
        out["sketch"] = [sk.serialize()]
        return pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return grouped.groupBy(*keys).applyInPandas(fold, out_schema)


def cms_counts_df(spark, cms) -> DataFrame:
    """Nonzero CMS cells as (row_j, idx, cnt) — broadcast side for
    :func:`cms_estimate_relational`."""
    nz = np.nonzero(cms.counts)
    rows = [
        (int(j), int(i), int(c)) for j, i, c in zip(nz[0].tolist(), nz[1].tolist(), cms.counts[nz].tolist())
    ]
    return spark.createDataFrame(rows, "row_j int, idx long, cnt long")


def cms_estimate_relational(
    probes: DataFrame,
    probe_col: str,
    counts: DataFrame,
    width: int,
    depth: int,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Point-frequency estimates (min over rows) as a broadcast join — the
    probe values are hashed by the same JVM xxhash64 family that built the
    sketch.  Returns probe rows plus ``cms_estimate``.  With ``group_cols``
    each probe row is estimated against ITS group's sketch (``counts`` must
    carry the group columns)."""
    group_cols = list(group_cols)
    exploded = probes.select(
        *group_cols,
        F.col(probe_col),
        F.posexplode(_cms_indices(probe_col, width, depth)).alias("row_j", "idx"),
    )
    return (
        exploded.join(F.broadcast(counts), [*group_cols, "row_j", "idx"], "left")
        .select(*group_cols, probe_col, F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"))
        .groupBy(*group_cols, probe_col)
        .agg(F.min("cnt").alias("cms_estimate"))
    )


def _drift_full_frame(gc: DataFrame, group_col: str, what: str) -> DataFrame:
    """The drift family's shared per-(group, bucket) frame from a reduced
    (group, hg64_key, count) input: every group crossed with the GLOBAL
    key table (so buckets a group misses contribute c_g = 0), columns
    (group, n_g, hg64_key, c_all, c_g, n_all).  NULL-SAFE group equality:
    a NULL group value is a group like any other in hg64_counts, and a
    plain equi-join would never match its counts back — every bucket would
    coalesce to c_g = 0 and the NULL group would report maximal drift
    regardless of its actual distribution (oracles mirror with IS NOT
    DISTINCT FROM).  Nothing here scales with input rows: both join sides
    are <= groups x 1920 bucket rows."""
    _require_integral_counts(gc, what)
    glob = gc.groupBy("hg64_key").agg(F.sum("count").alias("c_all"))
    n_g = gc.groupBy(group_col).agg(F.sum("count").alias("n_g"))
    n_all = glob.agg(F.sum("c_all").alias("n_all"))
    gcr = gc.select(
        F.col(group_col).alias("__g"), F.col("hg64_key").alias("__k"), "count"
    )
    return (
        n_g.crossJoin(F.broadcast(glob))
        .join(
            gcr,
            F.col(group_col).eqNullSafe(F.col("__g"))
            & (F.col("hg64_key") == F.col("__k")),
            "left",
        )
        .select(
            group_col,
            "n_g",
            "hg64_key",
            "c_all",
            F.coalesce("count", F.lit(0)).alias("c_g"),
        )
        .crossJoin(F.broadcast(n_all))
    )


def _crossed_abs_numerator(
    cg_col: str, call_col: str, numerator: str, what: str, terms: int = 1
):
    """|cg * n_all - c_all * n_g| as the drift family's exact integer
    numerator Column, in int64 with the plan-side 2^62 exactness guard or
    in decimal(38,0) (see :func:`hg64_tv_drift_from_counts` for the full
    discipline).  ``cg_col``/``call_col`` name the group-side and
    global-side count columns (plain counts for TV, CUMULATIVE counts for
    KS — C <= n, so the identical bound applies); n_g / n_all are expected
    in scope under those names.  Validates ``numerator`` here — the one
    function that branches on it — so every drift-family entry point
    (TV, KS, adjacent, W1) rejects a typo up front instead of silently
    running the int64 path.

    ``terms`` tightens the int64 guard for statistics that SUM terms each
    individually bounded by n_g * n_all: TV's summed bound telescopes to
    2 * n_g * n_all (sum of c_g is n_g — terms=1 suffices, headroom 2x
    inside int64), KS takes a max (terms=1 exactly), but W1 sums up to
    nkeys cumulative gaps that do NOT telescope, so its sum is only exact
    while terms * n_g * n_all < 2^62.  The decimal path needs no ``terms``
    tightening code-side, but its exactness window shrinks the same way:
    the summed bound is terms * n_g * n_all < 10^38, i.e. ~7e18 rows per
    side at terms=1 and ~2.3e17 per side at terms=1920 — and past it
    Spark's ANSI decimal overflow throws loudly rather than wrapping."""
    if numerator not in ("long", "decimal"):
        raise ValueError(f"numerator must be 'long' or 'decimal', got {numerator!r}")
    if numerator == "decimal":
        # decimal(38,0) products/sum need no guard: inputs are int64 sums,
        # max product 8.5e37 < 1e38, and ANSI decimal overflow on the
        # summed bound throws loudly rather than wrapping
        dec = "decimal(38,0)"
        return F.abs(
            F.col(cg_col).cast(dec) * F.col("n_all").cast(dec)
            - F.col(call_col).cast(dec) * F.col("n_g").cast(dec)
        )
    # exactness guard: n_g > floor((2^62-1)/terms/n_all) <=> terms*n_g*
    # n_all >= 2^62, past which the int64 numerator sum could wrap.  The
    # guard must SHORT-CIRCUIT (when/otherwise == lazy If): past the bound
    # the products themselves overflow and ANSI would throw its
    # generic ARITHMETIC_OVERFLOW before an additive guard could fire.
    # nullif on the divisor: a zero-mass pool (n_all = 0, weighted
    # builds) must yield a NULL statistic downstream, not a
    # DIVIDE_BY_ZERO crash from the guard's integer div
    bound = 4611686018427387903 // int(terms)
    return F.when(
        F.expr(f"n_g > ({bound}L div nullif(n_all, 0L))"),
        F.expr(
            f"CAST(raise_error('{what}: {terms} * n_g * n exceeds 2^62; "
            "use numerator=\"decimal\" at this scale') AS LONG)"
        ),
    ).otherwise(
        F.abs(F.col(cg_col) * F.col("n_all") - F.col(call_col) * F.col("n_g"))
    )


def hg64_tv_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    sigbits: int = 5,
    weight_col: str | None = None,
    numerator: str = "long",
) -> DataFrame:
    """(group, tv_numerator, tv): total-variation distance between each
    group's hg64 bucket distribution and the GLOBAL one — the
    distribution-drift monitor a sketch library owes its users (is this
    shard / day / source distributed like the corpus?).  TV over the
    bucketed space lower-bounds TV over raw values and inherits the
    histogram's 2^-sigbits value resolution.

    Exactness discipline: TV = 0.5 * sum_k |c_gk/n_g - c_k/n|, but a
    float sum over buckets would be summation-order-sensitive and could
    never hash-match an oracle.  So the sum runs on the INTEGER numerator
    |c_gk * n - c_k * n_g|, whose summed bound is 2*n_g*n — exact in
    int64 while n_g*n < 2^62, i.e. up to ~2.1*10^9 rows per side (beyond
    that, decimal(38,0) is the swap-in) — and the single final
    division by 2*n_g*n happens once per group: bit-identical in any
    engine, any partitioning.  The bound is ENFORCED plan-side: any group
    with n_g * n > 2^62 fails the job via raise_error rather than
    silently wrapping — checked as n_g > (2^62-1) div n (exact in
    integers; the product form would itself overflow int64 at the very
    scales the guard exists for).

    Plan shape: one keyed-count aggregate per (group, key) — the global
    per-key counts and per-group totals derive from it (ROLLUP-free:
    two tiny re-aggregations of <= groups x 1920 rows), then a broadcast
    join on the <= 1920-row global table.  Buckets a group misses are
    restored by cross-joining the group list with the global key table
    (both tiny) so the |0 - c_k * n_g| mass is counted.  Nothing after
    the first aggregate scales with input rows.

    With ``weight_col`` the distributions are weight-mass distributions
    (the weighted `hg64_add` build) — same math, counts are weight sums.
    ``numerator="decimal"`` is the past-int64 swap-in the overflow guard's
    error message points at (see :func:`hg64_tv_drift_from_counts`)."""
    return hg64_tv_drift_from_counts(
        hg64_counts(df, value_col, [group_col], sigbits, weight_col=weight_col),
        group_col,
        numerator=numerator,
    )


def hg64_tv_drift_from_counts(
    gc: DataFrame, group_col: str, numerator: str = "long"
) -> DataFrame:
    """:func:`hg64_tv_drift` over an already-reduced (group, hg64_key,
    count) frame — the entry point when the keyed counts are retained
    state (a checkpointed aggregate, a retraction survivor, yesterday's
    partials) rather than raw rows.  Same exactness discipline and the
    same plan-side 2^62 overflow guard as the raw-rows form.  Weighted
    counts work unchanged (weight-mass distributions); a group whose
    weights all sum to zero reports tv = NULL (the divisor is nullif'd —
    under Spark 4's default ANSI mode a bare division would crash the
    whole job with DIVIDE_BY_ZERO) — filter zero-mass groups first if
    they should not appear at all.  The count
    column must be INTEGRAL: a fractional (double) count — e.g. a weighted
    build over a double weight column — has no integer-exact numerator,
    which is this monitor's entire correctness story, so it is rejected
    up front (cast the weight to BIGINT first if truncation is intended).

    ``numerator="decimal"`` is the documented past-int64 swap-in: the
    products and the summed numerator run in decimal(38,0) — exact while
    the summed bound 2 * n_g * n_all stays under 10^38 (each side up to
    ~7 * 10^18, i.e. the whole int64 domain for one side against any
    physical row count on the other), and past even THAT Spark's ANSI
    decimal overflow throws loudly rather than wrapping.  No 2^62 guard
    needed; tv_numerator comes back as decimal(38,0) instead of long.
    ~2x slower per bucket row — irrelevant next to the data scan that
    produced the counts."""
    full = _drift_full_frame(gc, group_col, "hg64_tv_drift")
    num = _crossed_abs_numerator("c_g", "c_all", numerator, "hg64_tv_drift")
    return (
        full.groupBy(group_col, "n_g", "n_all")
        .agg(F.sum(num).alias("tv_numerator"))
        .select(
            group_col,
            "tv_numerator",
            (
                F.col("tv_numerator").cast("double")
                / F.nullif(
                    2.0 * F.col("n_g").cast("double") * F.col("n_all").cast("double"),
                    F.lit(0.0),
                )
            ).alias("tv"),
        )
    )


def hg64_ks_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    sigbits: int = 5,
    weight_col: str | None = None,
    numerator: str = "long",
) -> DataFrame:
    """(group, ks_numerator, ks): two-sample Kolmogorov-Smirnov statistic
    between each group's hg64 bucket distribution and the GLOBAL one — the
    sup-norm companion to :func:`hg64_tv_drift` (TV sums every bucket's
    disagreement; KS reports the single worst CDF gap, the classic
    location-shift detector that bucket-local noise cannot inflate).
    KS over the bucketed space lower-bounds KS over raw values and
    inherits the histogram's 2^-sigbits value resolution.

    Exactness discipline (the TV numerator's, applied to CUMULATIVES):
    KS = max_k |C_g(k)/n_g - C(k)/n| over bucket keys ascending, computed
    as the INTEGER max_k |C_g(k)*n - C(k)*n_g| with one final division by
    n_g*n.  C <= n, so the identical 2^62 bound and plan-side guard apply
    (``numerator="decimal"`` is the same swap-in past it).  The prefix
    sums are exact integer window sums — order-insensitive by definition —
    so the statistic is bit-identical in any engine, any partitioning.

    Plan shape: :func:`hg64_tv_drift_from_counts`'s shared full frame
    (nothing after the first keyed-count aggregate scales with input
    rows), plus one cumulative window PER GROUP over <= 1920 bucket rows —
    a window over the reduced sketch table, never over data."""
    return hg64_ks_drift_from_counts(
        hg64_counts(df, value_col, [group_col], sigbits, weight_col=weight_col),
        group_col,
        numerator=numerator,
    )


def hg64_ks_drift_from_counts(
    gc: DataFrame, group_col: str, numerator: str = "long"
) -> DataFrame:
    """:func:`hg64_ks_drift` over an already-reduced (group, hg64_key,
    count) frame — same retained-state entry point, zero-mass NULL
    semantics, integral-count requirement, and overflow discipline as
    :func:`hg64_tv_drift_from_counts`."""
    from pyspark.sql import Window

    full = _drift_full_frame(gc, group_col, "hg64_ks_drift")
    w = (
        Window.partitionBy(group_col)
        .orderBy("hg64_key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = full.select(
        group_col,
        "n_g",
        "n_all",
        F.sum("c_g").over(w).alias("cum_g"),
        F.sum("c_all").over(w).alias("cum_all"),
    )
    num = _crossed_abs_numerator("cum_g", "cum_all", numerator, "hg64_ks_drift")
    return (
        cum.groupBy(group_col, "n_g", "n_all")
        .agg(F.max(num).alias("ks_numerator"))
        .select(
            group_col,
            "ks_numerator",
            (
                F.col("ks_numerator").cast("double")
                / F.nullif(
                    F.col("n_g").cast("double") * F.col("n_all").cast("double"),
                    F.lit(0.0),
                )
            ).alias("ks"),
        )
    )


def hg64_w1_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    sigbits: int = 5,
    weight_col: str | None = None,
    numerator: str = "long",
) -> DataFrame:
    """(group, w1_numerator, w1): Wasserstein-1 (earth-mover) distance in
    BUCKET-INDEX units between each group's hg64 bucket distribution and
    the GLOBAL one — the magnitude-aware member of the drift family (TV
    counts how much mass disagrees, KS the worst CDF gap; W1 also weighs
    how FAR the mass moved, so a one-bucket nudge of all mass scores 1
    while a ten-bucket shift scores 10).  Distance is measured on the key
    axis (one unit per bucket index): because hg64 keys are log-linear in
    value, bucket-index distance is ~linear in log2(value) beyond the
    first binsize keys — i.e. this is (a scaled) W1 of log-magnitudes,
    the natural drift scale for long-tailed latency/size data.  Same
    2^-sigbits resolution caveat as the rest of the family.

    Exactness discipline: W1 = sum_k |F_g(k) - F(k)| over the key axis,
    computed as the INTEGER sum_k |C_g(k)*n - C(k)*n_g| * gap_k (gap_k =
    next observed key - k; CDFs are constant between observed keys, and
    the final key's CDF gap is identically 0) with ONE final division by
    n_g*n — order-insensitive, bit-identical in any engine.  Unlike TV
    (telescoping) and KS (a max), the W1 sum is bounded by span*n_g*n
    where span = max key - min key, so the int64 guard is tightened by
    ``terms=key_span`` (see :func:`_crossed_abs_numerator`); the raw-rows
    entry passes the sigbits' full key-domain size, the exact upper bound
    on any span.

    Plan shape: identical to :func:`hg64_ks_drift` — nothing after the
    first keyed-count aggregate scales with input rows; one window per
    group over <= nkeys bucket rows (lead + cumulative sum share the
    partitioning and sort, so no extra Exchange)."""
    return hg64_w1_drift_from_counts(
        hg64_counts(df, value_col, [group_col], sigbits, weight_col=weight_col),
        group_col,
        numerator=numerator,
        key_span=km.nkeys(sigbits),
    )


def hg64_w1_drift_from_counts(
    gc: DataFrame, group_col: str, numerator: str = "long", key_span: int = 1920
) -> DataFrame:
    """:func:`hg64_w1_drift` over an already-reduced (group, hg64_key,
    count) frame — same retained-state entry point, zero-mass NULL
    semantics, integral-count requirement, and overflow discipline as
    :func:`hg64_tv_drift_from_counts`, with one W1-specific knob:

    ``key_span`` must upper-bound the observed key span (max - min key);
    pass ``keymath.nkeys(sigbits)`` (the raw-rows entry does — the 1920
    default is sigbits=5's domain).  It tightens the int64 guard to
    key_span * n_g * n_all < 2^62 because the W1 sum does not telescope
    (docstring of :func:`_crossed_abs_numerator`).  An UNDERSTATED span
    cannot produce a silent wrong answer: each per-key gap is checked
    plan-side (actionable raise_error), each guarded |cum-diff| * gap
    product then fits int64 by construction, and a sum that still
    exceeds int64 dies on Spark 4's ANSI ARITHMETIC_OVERFLOW — loud,
    though less actionable than the guard; size key_span honestly."""
    from pyspark.sql import Window

    key_span = int(key_span)
    if key_span < 1:
        raise ValueError(f"key_span must be >= 1, got {key_span}")
    full = _drift_full_frame(gc, group_col, "hg64_w1_drift")
    wsort = Window.partitionBy(group_col).orderBy("hg64_key")
    wcum = wsort.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = full.select(
        group_col,
        "n_g",
        "n_all",
        F.sum("c_g").over(wcum).alias("cum_g"),
        F.sum("c_all").over(wcum).alias("cum_all"),
        # last key: no successor -> gap 0 (its CDF gap is 0 anyway)
        F.coalesce(
            F.lead("hg64_key").over(wsort) - F.col("hg64_key"), F.lit(0)
        ).alias("gap"),
    )
    gap = F.when(
        F.col("gap") > F.lit(key_span),
        F.expr(
            f"CAST(raise_error('hg64_w1_drift: observed key gap exceeds "
            f"key_span={key_span}; pass keymath.nkeys(sigbits)') AS LONG)"
        ),
    ).otherwise(F.col("gap"))
    num = _crossed_abs_numerator(
        "cum_g", "cum_all", numerator, "hg64_w1_drift", terms=key_span
    )
    return (
        cum.groupBy(group_col, "n_g", "n_all")
        .agg(F.sum(num * gap).alias("w1_numerator"))
        .select(
            group_col,
            "w1_numerator",
            (
                F.col("w1_numerator").cast("double")
                / F.nullif(
                    F.col("n_g").cast("double") * F.col("n_all").cast("double"),
                    F.lit(0.0),
                )
            ).alias("w1"),
        )
    )


def hg64_tv_adjacent(
    wc: DataFrame, step: int, part_col: str = "wstart_us", numerator: str = "long"
) -> DataFrame:
    """(part, tv_numerator, tv): total-variation distance between each
    window's hg64 bucket distribution and its PREDECESSOR's (the window at
    ``part - step``) — the temporal drift monitor: "did the last day's
    distribution move against the day before?", the sequential complement
    to :func:`hg64_tv_drift`'s group-vs-pool form.  Windows without a
    predecessor in the input emit no row.

    Input is an already-reduced (part, hg64_key, count) frame — e.g.
    `q_sliding_hg64_events`'s output — so this composes with the sliding /
    streaming window builds without re-scanning data.  Same integer-exact
    discipline as the drift family: numerator |c_prev*n_cur - c_cur*n_prev|
    summed in int64 under the shared 2^62 plan-side guard (or
    ``numerator="decimal"``), ONE final division per window pair.  Every
    join here operates on <= windows x 1920 bucket rows."""
    _require_integral_counts(wc, "hg64_tv_adjacent")
    cur = wc.select(
        F.col(part_col).alias("__w"), "hg64_key", F.col("count").alias("c_cur")
    )
    prv = wc.select(
        (F.col(part_col) + F.lit(step)).alias("__w"),
        "hg64_key",
        F.col("count").alias("c_prev"),
    )
    # windows that HAVE a predecessor: present on both sides after the shift
    both = cur.select("__w").distinct().join(prv.select("__w").distinct(), "__w")
    keys = (
        cur.select("__w", "hg64_key")
        .union(prv.select("__w", "hg64_key"))
        .distinct()
        .join(F.broadcast(both), "__w")
    )
    full = (
        keys.join(cur, ["__w", "hg64_key"], "left")
        .join(prv, ["__w", "hg64_key"], "left")
        .select(
            "__w",
            "hg64_key",
            F.coalesce("c_cur", F.lit(0)).alias("c_cur"),
            F.coalesce("c_prev", F.lit(0)).alias("c_prev"),
        )
    )
    # per-window totals from the SAME coalesced frame (keys cover both
    # sides' buckets, so the sums are the true window populations); aliased
    # to the drift family's n_g/n_all names so the guarded numerator helper
    # applies unchanged: |c_prev*n_cur - c_cur*n_prev| == |cg*n_all - call*n_g|
    tot = full.groupBy("__w").agg(
        F.sum("c_prev").alias("n_g"), F.sum("c_cur").alias("n_all")
    )
    num = _crossed_abs_numerator("c_prev", "c_cur", numerator, "hg64_tv_adjacent")
    return (
        full.join(F.broadcast(tot), "__w")
        .groupBy("__w", "n_g", "n_all")
        .agg(F.sum(num).alias("tv_numerator"))
        .select(
            F.col("__w").alias(part_col),
            "tv_numerator",
            (
                F.col("tv_numerator").cast("double")
                / F.nullif(
                    2.0 * F.col("n_g").cast("double") * F.col("n_all").cast("double"),
                    F.lit(0.0),
                )
            ).alias("tv"),
        )
    )


def hg64_calibrate(
    df: DataFrame,
    value_col: str,
    ref: DataFrame,
    ref_value_col: str,
    sigbits: int = 5,
) -> DataFrame:
    """Input rows + (ref_rank, ref_pct): tag every row of ``df`` with its
    rank and percentile within a DIFFERENT corpus's distribution — score
    calibration against a reference (is the incoming snapshot longer /
    slower / larger than the corpus we already have?).  The cross-corpus
    sibling of :func:`hg64_rank_features` (which ranks rows within their
    own group).

    The reference's cumulative table is DENSIFIED to every possible bucket
    key (<= 1920 rows — `spark.range`, not data) with the cumulative
    carried through empty buckets, so a ``df`` value landing in a bucket
    the reference never saw still equi-joins and gets the exact rank
    `rank_of_value` would return (the cumulative below it; the empty
    bucket's interpolation term is 0 by cnt = 0).  Same exact FP op order
    as rank_features — floor(cnt * (off / div)), div == 0 -> cnt — so the
    tag is engine-invariant.  Cost at any scale: one keyed-count aggregate
    over the reference + a <= 1920-row broadcast onto ``df``, which never
    shuffles."""
    from pyspark.sql import Window

    counts = hg64_counts(ref, ref_value_col, [], sigbits)
    spark = df.sparkSession
    nk = km.nkeys(sigbits)
    dense = spark.range(nk).select(F.col("id").cast("int").alias("__k"))
    dj = dense.join(
        counts.select(F.col("hg64_key").alias("__k"), F.col("count").alias("__cnt")),
        "__k",
        "left",
    ).select("__k", F.coalesce("__cnt", F.lit(0)).alias("__cnt"))
    # single-partition window over the <= 1920-row dense table (never data)
    w = Window.partitionBy(F.lit(0)).orderBy("__k")
    cumfr = dj.withColumn(
        "__cb",
        F.coalesce(
            F.sum("__cnt").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).withColumn("__pop", F.sum("__cnt").over(Window.partitionBy(F.lit(0))))
    keyed = with_hg64_key(df, value_col, sigbits)
    joined = keyed.join(F.broadcast(cumfr), F.col("hg64_key") == F.col("__k"))
    mn = minval_col("__k", sigbits)
    mx = maxval_col("__k", sigbits)
    off = (F.col(value_col) - mn).cast("double")
    div = (mx - mn).cast("double")
    in_bucket = F.when(div == 0.0, F.col("__cnt")).otherwise(
        F.floor(F.col("__cnt").cast("double") * (off / div)).cast("long")
    )
    rank = (F.col("__cb") + in_bucket).cast("long")
    return (
        joined.withColumn("ref_rank", rank)
        .withColumn(
            # nullif: an EMPTY reference still densifies to 1920 zero-count
            # buckets, so every df row joins with __pop = 0 — under ANSI
            # mode a bare division would crash with DIVIDE_BY_ZERO; the
            # drift-family convention is a NULL percentile instead
            "ref_pct",
            F.col("ref_rank").cast("double")
            / F.nullif(F.col("__pop").cast("double"), F.lit(0.0)),
        )
        .drop("__k", "__cnt", "__cb", "__pop", "hg64_key")
    )


def hg64_rank_features(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    sigbits: int = 5,
) -> DataFrame:
    """Input rows + (hg64_rank, pct_rank): tag EVERY ROW with its rank
    (`hg64s_rank_of_value`, `/root/reference/hg64.c:410-429`) and
    percentile (`hg64s_quantile_of_value`, `hg64.c:438-442`) within its
    group's hg64 distribution — the sketch as an ML FEATURE TRANSFORMER.
    Percentile features over 10^12 rows cost one keyed-count aggregate
    plus a broadcast join of <= groups x 1920 cumulative rows back onto
    the data; the exact alternative is a per-group global sort.  NULL
    values are dropped (the bucket-key convention, mirrored by the
    oracle's WHERE v IS NOT NULL).

    Exactness: the interpolation uses the reference's exact FP op order —
    floor(cnt * (off / div)), div == 0 -> cnt — so the tagged rank equals
    `HG64Snapshot.rank_of_value` bit-for-bit, and pct_rank is that integer
    rank divided by the group population once (engine-invariant)."""
    from pyspark.sql import Window

    group_cols = list(group_cols)
    counts = hg64_counts(df, value_col, group_cols, sigbits)
    wpart = Window.partitionBy(*group_cols) if group_cols else Window.partitionBy(F.lit(0))
    cum = counts.withColumn(
        "__cb",
        F.coalesce(
            F.sum("count").over(
                wpart.orderBy("hg64_key").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).withColumn("__pop", F.sum("count").over(wpart))
    side = cum.select(
        *[F.col(c).alias(f"__g_{c}") for c in group_cols],
        F.col("hg64_key").alias("__k"),
        F.col("count").alias("__cnt"),
        "__cb",
        "__pop",
    )
    keyed = with_hg64_key(df, value_col, sigbits)
    cond = F.col("hg64_key") == F.col("__k")
    for c in group_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__g_{c}"))
    mn = minval_col("__k", sigbits)
    mx = maxval_col("__k", sigbits)
    off = (F.col(value_col) - mn).cast("double")
    div = (mx - mn).cast("double")
    in_bucket = F.when(div == 0.0, F.col("__cnt")).otherwise(
        F.floor(F.col("__cnt").cast("double") * (off / div)).cast("long")
    )
    rank = (F.col("__cb") + in_bucket).cast("long")
    return (
        keyed.join(F.broadcast(side), cond)
        .withColumn("hg64_rank", rank)
        .withColumn(
            "pct_rank",
            F.col("hg64_rank").cast("double") / F.col("__pop").cast("double"),
        )
        .drop("hg64_key", "__k", "__cnt", "__cb", "__pop", *[f"__g_{c}" for c in group_cols])
    )


def _require_integral_counts(counts: DataFrame, op: str) -> None:
    """The integer-exactness monitors (drift / overlap) are only exact over
    INTEGRAL counts; a double count (weighted build over a double weight
    column) would silently degrade the partitioning-invariance guarantee —
    and the int64 overflow guard's `div` does not even typecheck on
    doubles.  Fail with intent instead."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    ctype = dict((f.name, f.dataType) for f in counts.schema.fields)["count"]
    if not isinstance(ctype, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"{op} requires integral counts (got count: {ctype}); cast the "
            "weight column to BIGINT first if truncation is intended"
        )


def hg64_overlap(
    df: DataFrame,
    value_col: str,
    group_col: str,
    sigbits: int = 5,
    weight_col: str | None = None,
    numerator: str = "long",
) -> DataFrame:
    """(g_a, g_b, ov_numerator, overlap): the histogram OVERLAP (intersection)
    coefficient between every unordered pair of groups' hg64 distributions —
    sum_k min(c_ak/n_a, c_bk/n_b) in [0, 1], the standard histogram-
    intersection similarity (1 = identical bucket distributions, 0 =
    disjoint support).  Complements :func:`hg64_tv_drift` (each group vs
    the pool) with group-vs-group structure: which tools/sources/shards
    have interchangeable distributions.

    Exactness discipline (the tv_drift convention): the sum runs on the
    INTEGER numerator min(c_ak * n_b, c_bk * n_a) with ONE final division
    by n_a * n_b — bit-identical in any engine, any partitioning — and the
    same plan-side 2^62 guard fails the job past int64 exactness.

    Plan shape: one keyed-count aggregate; buckets missing from either
    group contribute min(..., 0) = 0, so a plain INNER self-join on
    hg64_key over the <= groups x 1920-row frame needs no missing-bucket
    restoration.  Corollary: a pair with fully DISJOINT support emits no
    row at all (its overlap is identically 0) — callers wanting explicit
    zeros outer-join against the group-pair list.  NULL is a group like any other: pairs are ordered by an
    explicit engine-independent predicate (a < b, with the NULL group
    deterministically LAST) rather than engine-specific NULL sort order.
    Nothing after the first aggregate scales with input rows.
    ``numerator="decimal"`` is the past-int64 swap-in the overflow guard's
    error message points at (the tv_drift convention)."""
    return hg64_overlap_from_counts(
        hg64_counts(df, value_col, [group_col], sigbits, weight_col=weight_col),
        group_col,
        numerator=numerator,
    )


def hg64_overlap_from_counts(
    gc: DataFrame, group_col: str, numerator: str = "long"
) -> DataFrame:
    """:func:`hg64_overlap` over an already-reduced (group, hg64_key, count)
    frame — the retained-state entry point (the tv_drift_from_counts twin),
    and what `jobs/monitor_corpus.py` reuses so the job and the library can
    never drift.  Zero-mass groups (weighted builds) yield NULL overlap
    rows rather than an ANSI DIVIDE_BY_ZERO crash.  ``numerator="decimal"``
    swaps the guarded int64 products for exact decimal(38,0) past the 2^62
    bound (see :func:`hg64_tv_drift_from_counts`)."""
    if numerator not in ("long", "decimal"):
        raise ValueError(f"numerator must be 'long' or 'decimal', got {numerator!r}")
    _require_integral_counts(gc, "hg64_overlap")
    gcr = gc.select(F.col(group_col).alias("g"), "hg64_key", "count")
    # null-safe totals join (the tv_drift convention: NULL is a group)
    n_g = (
        gc.groupBy(group_col)
        .agg(F.sum("count").alias("n"))
        .select(F.col(group_col).alias("__gn"), "n")
    )
    sides = gcr.join(n_g, F.col("g").eqNullSafe(F.col("__gn")), "inner").select(
        "g", "hg64_key", "count", "n"
    )
    a = sides.select(
        F.col("g").alias("g_a"),
        F.col("hg64_key").alias("k"),
        F.col("count").alias("c_a"),
        F.col("n").alias("n_a"),
    )
    b = sides.select(
        F.col("g").alias("g_b"),
        F.col("hg64_key").alias("k"),
        F.col("count").alias("c_b"),
        F.col("n").alias("n_b"),
    )
    # engine-independent unordered-pair predicate: NULL group sorts LAST
    pair = (F.col("g_a") < F.col("g_b")) | (
        F.col("g_b").isNull() & F.col("g_a").isNotNull()
    )
    joined = a.join(b, ["k"], "inner").filter(pair)
    if numerator == "decimal":
        # exact without a guard: int64 inputs, max product 8.5e37 < 1e38,
        # ANSI decimal overflow throws loudly past even the summed bound
        dec = "decimal(38,0)"
        term = F.least(
            F.col("c_a").cast(dec) * F.col("n_b").cast(dec),
            F.col("c_b").cast(dec) * F.col("n_a").cast(dec),
        )
    else:
        # nullif in the guard's divisor: a zero-mass group (n_b = 0,
        # weighted builds) must not crash the ANSI integer `div`; its
        # products are 0 so the otherwise-branch is exact, and the final
        # division nullif's too
        term = F.when(
            F.expr("n_a > (4611686018427387903L div nullif(n_b, 0L))"),
            F.expr(
                "CAST(raise_error('hg64_overlap: n_a*n_b exceeds 2^62; "
                "use numerator=\"decimal\" at this scale') AS LONG)"
            ),
        ).otherwise(F.least(F.col("c_a") * F.col("n_b"), F.col("c_b") * F.col("n_a")))
    return (
        joined.groupBy("g_a", "g_b", "n_a", "n_b")
        .agg(F.sum(term).alias("ov_numerator"))
        .select(
            "g_a",
            "g_b",
            "ov_numerator",
            (
                F.col("ov_numerator").cast("double")
                / F.nullif(
                    F.col("n_a").cast("double") * F.col("n_b").cast("double"),
                    F.lit(0.0),
                )
            ).alias("overlap"),
        )
    )


def hg64_counts_subtract(
    total: DataFrame, expired: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Relational sketch RETRACTION: ``total`` minus ``expired`` where both
    are (group..., hg64_key, count) frames — the sliding-corpus maintenance
    op at scale (drop an expired partition's counts out of a running
    aggregate without rebuilding).  One outer-join of two already-reduced
    count frames (each <= groups x 1920 rows — nothing here scales with
    input data); an expired count exceeding its total FAILS the job
    plan-side, because a silent negative count would corrupt every later
    quantile.  Buckets whose retracted count is zero are dropped — for
    UNWEIGHTED builds that matches a from-scratch rebuild of the survivors
    row-for-row (a fully-expired bucket has no surviving rows); a WEIGHTED
    build can emit explicit zero-sum buckets from scratch (surviving rows
    whose weights sum to 0), so compare weighted frames on count > 0."""
    group_cols = list(group_cols)
    keys = [*group_cols, "hg64_key"]
    # NULL-SAFE key equality (the hg64_tv_drift convention): a NULL group
    # is a group like any other in hg64_counts, and a plain equi-join
    # would put its expired rows on their own full-outer rows with
    # c_tot = 0 — tripping the underflow guard on a perfectly valid
    # retraction
    e = expired.select(
        *[F.col(k).alias(f"__e_{k}") for k in keys], F.col("count").alias("__expired")
    )
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"__e_{k}"))
        cond = c if cond is None else cond & c
    joined = total.join(e, cond, "full_outer").select(
        *[F.coalesce(F.col(k), F.col(f"__e_{k}")).alias(k) for k in keys],
        F.coalesce("count", F.lit(0)).alias("c_tot"),
        F.coalesce("__expired", F.lit(0)).alias("c_exp"),
    )
    guard = F.when(
        F.col("c_exp") > F.col("c_tot"),
        F.expr("CAST(raise_error('retraction underflow: expired counts exceed total') AS LONG)"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        joined.select(*keys, (F.col("c_tot") - F.col("c_exp") + guard).alias("count"))
        .filter(F.col("count") > 0)
    )


def hg64_from_counts(rows, sigbits: int) -> HG64:
    """Fold collected (hg64_key, count) rows into a sketch, driver-side.
    For global aggregations this replaces the applyInPandas stage entirely:
    the plan ends at Catalyst's final HashAggregate + collect of <= 1920
    rows."""
    sk = HG64(sigbits)
    for r in rows:
        sk.counters[r["hg64_key"]] += np.uint64(r["count"])
    return sk


def hg64_agg_relational(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    sigbits: int = 5,
    fused_group_domain: int | None = None,
) -> DataFrame:
    """(group..., sketch binary): same output contract as
    ``agg.sketch_agg`` but with the entire reduction in Catalyst; Python
    touches <= (64-sigbits+1)*2^sigbits rows per group.

    Grouped: counts repartitioned by group and folded with mapInArrow
    segmentation — ONE Python call per partition, the shape that survives
    millions of groups (per-conversation sketches).  Global: the counts are
    folded driver-side.  Blobs are byte-identical to ``agg.hg64_agg(...,
    method="arrow")`` (tested)."""
    group_cols = list(group_cols)
    counts = hg64_counts(
        df, value_col, group_cols, sigbits, fused_group_domain=fused_group_domain
    )
    fields = [f for f in counts.schema.fields if f.name in group_cols]
    out_schema = StructType(fields + [StructField("sketch", BinaryType(), False)])
    nk = km.nkeys(sigbits)

    if fused_group_domain is not None and group_cols:
        # the fused contract DECLARES the counts frame bounded at
        # (domain + 1) x nkeys rows, so the final fold is driver-side: one
        # collect of the reduced counts (the same bounded-reduction class
        # as a sketch-blob collect — the size is declared, not
        # data-dependent), the identical numpy accumulation the Arrow fold
        # runs per task, and a LocalRelation result.  That removes the
        # fold's repartition exchange, its Python worker stage, and one
        # collect round trip from the hot ingest path; the blobs are
        # byte-identical (same uint64 counter accumulation, same
        # serialize — pytest-asserted against the Arrow fold).

        g = group_cols[0]
        by_group: dict = {}
        for r in counts.collect():
            counters = by_group.setdefault(r[g], np.zeros(nk, dtype=np.uint64))
            counters[r["hg64_key"]] += np.uint64(r["count"])
        gfield = next(f for f in counts.schema.fields if f.name == g)
        return local_rows_df(
            counts.sparkSession,
            [
                (k, bytearray(HG64(sigbits, v).serialize()))
                for k, v in by_group.items()
            ],
            f"`{g}` {gfield.dataType.simpleString()}, sketch binary",
        )

    if group_cols:
        import pyarrow as pa

        shuffled = counts.repartition(*group_cols)

        def fold_partition(batches):
            from hg64spark.agg import segment_record_batch

            sketches: dict[tuple, np.ndarray] = {}
            out_type = None
            for rb in batches:
                if out_type is None:
                    out_type = rb.schema
                keys = rb.column(len(group_cols)).to_numpy(zero_copy_only=False)
                cnts = rb.column(len(group_cols) + 1).to_numpy(zero_copy_only=False)
                for gkey, idx in segment_record_batch(rb, len(group_cols)):
                    counters = sketches.get(gkey)
                    if counters is None:
                        counters = sketches[gkey] = np.zeros(nk, dtype=np.uint64)
                    counters[keys[idx]] += cnts[idx].astype(np.uint64)
            if not sketches:
                return
            gkeys = list(sketches.keys())
            arrays = [
                pa.array([k[i] for k in gkeys], type=out_type.field(i).type)
                for i in range(len(group_cols))
            ]
            arrays.append(
                pa.array([HG64(sigbits, sketches[k]).serialize() for k in gkeys], type=pa.binary())
            )
            yield pa.RecordBatch.from_arrays(arrays, names=[f.name for f in out_schema.fields])

        return shuffled.mapInArrow(fold_partition, out_schema)

    # global build: the counts frame is <= nkeys(sigbits) rows BY
    # CONSTRUCTION — driver-side fold + LocalRelation result, exactly like
    # the global HLL/CMS finalizers (empty input -> empty frame)
    rows = counts.collect()
    out_rows = []
    if rows:
        counters = np.zeros(nk, dtype=np.uint64)
        counters[np.array([r["hg64_key"] for r in rows])] = np.array(
            [r["count"] for r in rows]
        ).astype(np.uint64)
        out_rows = [(bytearray(HG64(sigbits, counters).serialize()),)]
    return local_rows_df(counts.sparkSession, out_rows, "sketch binary")


# --------------------------------------------------------------- Misra-Gries


def mg_agg_relational(
    df: DataFrame,
    value_col: str,
    k: int = 64,
    group_cols: Sequence[str] = (),
    weight_col: str | None = None,
) -> DataFrame:
    """(group..., sketch): an order-insensitive Misra-Gries summary built
    with Catalyst.  Exact grouped counts (ONE shuffle, map-side combined),
    then the canonical batched decrement — subtract the (k+1)-th largest
    count and drop non-positives — which is exactly ``MG.add_values``
    folding the whole dataset as a single batch, so the result is
    BYTE-EQUAL to the driver-side one-batch build (tested) and every MG
    invariant holds: never overestimates, error <= n/(k+1), no item with
    count > n/(k+1) missed.  Unlike streamed MG (whose summary depends on
    arrival order), this build is deterministic and partitioning-independent.

    Scale shape: the count stream shrinks to distinct items per map
    partition before shuffling; the (k+1)-th-largest cut uses the salted
    two-phase exact top-K (no task ever sorts a group's full distinct-item
    set); <= k+1 rows per group reach Python.  With ``weight_col`` each row
    adds its validated non-negative weight."""
    from hg64spark.sketches.mg import MG, item_key

    group_cols = list(group_cols)
    cnt = (
        F.count("*")
        if weight_col is None
        else F.coalesce(F.sum(_guarded_weight(weight_col)), F.lit(0))
    )
    wcols = [weight_col] if weight_col else []
    gcol = "__mg_g"
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, value_col, *wcols)
        .groupBy(*group_cols, value_col)
        .agg(cnt.cast("long").alias("cnt"))
        .withColumn(gcol, F.struct(*group_cols) if group_cols else F.lit(0))
    )
    totals = counts.groupBy(gcol, *group_cols).agg(F.sum("cnt").alias("__n"))
    from hg64spark.dataops import salted_topk  # lazy: dataops imports this module

    from pyspark.sql import Window

    surv = salted_topk(counts, gcol, [F.desc("cnt"), F.asc(value_col)], value_col, k + 1)
    w = Window.partitionBy(gcol).orderBy(F.desc("cnt"), F.asc(value_col))
    ranked = surv.withColumn("__rk", F.row_number().over(w))
    delta = ranked.filter(F.col("__rk") == k + 1).select(gcol, F.col("cnt").alias("__delta"))
    kept = (
        ranked.join(delta, gcol, "left")
        .withColumn("__adj", F.col("cnt") - F.coalesce("__delta", F.lit(0)))
        .filter(F.col("__adj") > 0)
        .select(gcol, value_col, "__adj")
    )
    # totals drive the fold (LEFT join): a group whose every count ties the
    # threshold keeps ZERO items but must still emit an (empty-counter,
    # n>0) sketch — the same state the one-batch Python fold reaches
    rows = totals.join(kept, gcol, "left")
    if not group_cols:
        # global build: the joined frame is <= k+1 rows BY CONSTRUCTION
        # (the salted top-(k+1) cut), so the finalizer folds driver-side
        # with the identical counter assembly and returns a LocalRelation
        # — same shape and empty-input semantics (zero total rows ->
        # empty frame) as the global HLL/CMS/Bloom/hg64 finalizers.
        collected = rows.collect()
        out_rows = []
        if collected:
            counters = {
                item_key(r[value_col]): int(r["__adj"])
                for r in collected
                if r[value_col] is not None
            }
            sk = MG(k, counters, int(collected[0]["__n"]))
            out_rows = [(bytearray(sk.serialize()),)]
        return local_rows_df(df.sparkSession, out_rows, "sketch binary")
    fields = [f for f in rows.schema.fields if f.name in group_cols]
    out_schema = StructType(fields + [StructField("sketch", BinaryType(), False)])

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        present = pdf[pdf[value_col].notna()]
        counters = {
            item_key(it): int(c) for it, c in zip(present[value_col], present["__adj"])
        }
        sk = MG(k, counters, int(pdf["__n"].iloc[0]))
        out = {g: [pdf[g].iloc[0]] for g in group_cols}
        out["sketch"] = [sk.serialize()]
        return pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return rows.groupBy(gcol).applyInPandas(fold, out_schema)
