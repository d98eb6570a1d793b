"""HG64 — the 64-bit log-linear histogram sketch, numpy-vectorized.

Semantics follow the reference engine (`/root/reference/hg64.c`) operator by
operator — see file:line citations on each method — but the execution model is
Spark's: one single-threaded partial sketch per task (so the reference's
atomics/CAS machinery, `hg64.c:195-216,235-241`, has no analogue here) and an
exactly associative + commutative integer merge, the pattern the reference
itself benchmarks as `merged_load` (`/root/reference/test.c:125-157`) and
proves lossless (`test.c:221-230`).

In-memory representation: a dense ``uint64`` counter array over the full key
space (15 KB at sigbits=5) — cheap per partial, trivially mergeable with one
vectorized add.  Sparsity (memory proportional to data *range*) is applied at
the serialization boundary, mirroring the reference's snapshot layout
(`hg64.c:46-53`): binmap + packed occupied-bin blocks.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np

from hg64spark import keymath as km
from hg64spark import serde

U64 = np.uint64
_U64_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)
_MASK64 = (1 << 64) - 1

DEFAULT_SIGBITS = 5  # ~2 significant decimal digits (`/root/reference/test.c:29-31`, sigs.c)


class HG64:
    """A mergeable log-linear histogram of uint64 values.

    Construction validates ``sigbits`` in 1..15 (`hg64.c:111-127`).
    """

    __slots__ = ("sigbits", "counters")

    def __init__(self, sigbits: int = DEFAULT_SIGBITS, counters: np.ndarray | None = None):
        self.sigbits = km.check_sigbits(sigbits)
        n = km.nkeys(self.sigbits)
        if counters is None:
            self.counters = np.zeros(n, dtype=U64)
        else:
            counters = np.asarray(counters, dtype=U64)
            if counters.shape != (n,):
                raise ValueError(f"counters must have shape ({n},), got {counters.shape}")
            self.counters = counters

    # ---------------------------------------------------------------- ingest

    def add_values(self, values: np.ndarray, weights: np.ndarray | None = None) -> "HG64":
        """Bulk `hg64_inc` / `hg64_add` (`hg64.c:246-254`), whole-array numpy.

        ``values`` must be non-negative; they are bucketed with the vectorized
        key kernel and counted with one ``bincount`` (unweighted) or
        :func:`fold_counts` (weighted; a negative weight raises ValueError)
        — no per-row Python.
        """
        values = np.asarray(values)
        if values.size == 0:
            return self
        if values.dtype.kind == "f" and not bool(np.isfinite(values).all()):
            # NaN passes a `< 0` test and astype(uint64) of NaN/inf is
            # platform-defined garbage — reject before it mis-buckets
            raise ValueError("hg64 ingests finite values; got NaN/inf")
        if values.dtype.kind in ("i", "f"):
            if bool((np.asarray(values) < 0).any()):
                raise ValueError("hg64 ingests unsigned values; got negatives")
        keys = km.value_to_key(values.astype(U64), self.sigbits)
        if weights is None:
            self.counters += np.bincount(keys, minlength=self.counters.size).astype(U64)
        else:
            self.counters += fold_counts(0, keys, weights, 1, self.sigbits)[0]
        return self

    def inc(self, value: int, count: int = 1) -> None:
        """Point update (`hg64.c:246-254`); zero increments are no-ops
        (`hg64.c:236-237`)."""
        if value < 0 or count < 0:
            # same contract as add_values: np.array([-1], dtype=uint64)
            # silently wraps to 2^64-1 and mis-buckets into the top decade.
            # Validate BEFORE the zero-count no-op so inc(-1, 0) raises
            # like put(-1, 1, 0) does — one contract, any arguments.
            raise ValueError(
                f"hg64 ingests unsigned values/counts; got value={value} count={count}"
            )
        if count == 0:
            return
        key = int(km.value_to_key(np.array([value], dtype=U64), self.sigbits)[0])
        self.counters[key] += U64(count)

    def put(self, vmin: int, vmax: int, count: int) -> None:
        """Range insert, pro-rata with carried remainder (`hg64.c:256-270`).

        Distributes ``count`` across every bucket spanning [vmin, vmax] in
        proportion to overlap; the remainder is carried so the total is
        exactly preserved.  Used for cross-precision merges (downsampling);
        Python loop is over spanned buckets only (<= KEYS).
        """
        vmin, vmax, count = int(vmin), int(vmax), int(count)
        if vmin < 0 or vmax < vmin or count < 0:
            raise ValueError(
                f"hg64 put needs 0 <= vmin <= vmax and count >= 0; "
                f"got [{vmin}, {vmax}] count={count}"
            )
        kmin = int(km.value_to_key(np.array([vmin], dtype=U64), self.sigbits)[0])
        kmax = int(km.value_to_key(np.array([vmax], dtype=U64), self.sigbits)[0])
        for key in range(kmin, kmax + 1):
            bucket_max = int(km.key_to_maxval(np.array([key], dtype=U64), self.sigbits)[0])
            mid = bucket_max if bucket_max < vmax else vmax
            some = float(mid - vmin + 1)
            rest = float(vmax - vmin + 1)
            inc = int(float(count) * (some / rest))
            self.counters[key] += U64(inc)
            count -= inc
            vmin = mid + 1

    # ----------------------------------------------------------------- merge

    def merge(self, source: "HG64") -> "HG64":
        """`hg64_merge` (`hg64.c:297-305`), mutating ``self``.

        Same sigbits (the distributed hot path): every source bucket collapses
        to exactly one target key (round-trip invariant, `hg64.c:459-460`), so
        the merge is pure integer counter addition — exactly associative AND
        commutative, which Spark's nondeterministic partial-merge order
        requires.  The reference asserts this losslessness itself
        (`test.c:221-230`).

        Different sigbits: faithful bucket-by-bucket `put` (pro-rata), exposed
        mainly via :meth:`downsample`.
        """
        if source.sigbits == self.sigbits:
            self.counters += source.counters
            return self
        keys, mins, maxs, counts = source.to_buckets()
        if source.sigbits > self.sigbits:
            # coarsening: finer buckets nest inside coarser ones, so each
            # source bucket maps to exactly one target key and put()'s ratio
            # is exactly 1.0 -> pure integer re-keying (no FP involved).
            tkeys = km.value_to_key(mins, self.sigbits)
            self.counters += fold_counts(0, tkeys, counts, 1, self.sigbits)[0]
        else:
            for vmin, vmax, cnt in zip(mins.tolist(), maxs.tolist(), counts.tolist()):
                self.put(vmin, vmax, cnt)
        return self

    def subtract(self, source: "HG64") -> "HG64":
        """Retract a sub-sketch: the exact inverse of the same-sigbits
        merge, mutating ``self`` (an extension — the reference has no
        retraction, `hg64.h` ends at merge).  This is the sliding-corpus
        maintenance op: drop an expired day's sketch out of a running
        aggregate instead of rebuilding from scratch.  Only defined when
        ``source`` is a genuine sub-stream of what ``self`` ingested —
        enforced per counter (any underflow raises; uint64 wraparound
        would otherwise corrupt every later query silently).  Same-sigbits
        only: a cross-precision retraction is not exactly invertible
        (pro-rata put spreads mass)."""
        if source.sigbits != self.sigbits:
            raise ValueError(
                f"subtract requires equal sigbits; {self.sigbits} != {source.sigbits}"
            )
        if np.any(source.counters > self.counters):
            raise ValueError("subtract: source is not a sub-sketch (counter underflow)")
        self.counters -= source.counters
        return self

    def downsample(self, sigbits: int) -> "HG64":
        """Re-bucket into a new sketch at a different precision
        (`test.c:159-168` exercises 5 -> 1..10). Population is exactly
        preserved when coarsening."""
        out = HG64(sigbits)
        out.merge(self)
        return out

    # ----------------------------------------------------------------- views

    @property
    def population(self) -> int:
        return int(self.counters.sum(dtype=object)) if self.counters.any() else 0

    def occupied_bins(self) -> np.ndarray:
        """Indices of bins (key // binsize) with any nonzero counter."""
        bs = km.binsize(self.sigbits)
        per_bin = self.counters.reshape(-1, bs).any(axis=1)
        return np.nonzero(per_bin)[0]

    def size_bytes(self) -> int:
        """Memory model of `hg64_size` (`hg64.c:143-152`): fixed struct +
        8 bytes per counter in each occupied bin."""
        bs = km.binsize(self.sigbits)
        return 520 + int(self.occupied_bins().size) * bs * 8

    def to_buckets(self):
        """Occupied buckets as (keys, mins, maxs, counts) — the vectorized
        `hg64_get`/`hg64_next` export (`hg64.c:272-295`), nonzero counters
        only."""
        keys = np.nonzero(self.counters)[0].astype(np.int64)
        mins = km.key_to_minval(keys, self.sigbits)
        maxs = km.key_to_maxval(keys, self.sigbits)
        return keys, mins, maxs, self.counters[keys]

    # ----------------------------------------------------------------- serde

    def serialize(self) -> bytes:
        """Envelope per `serde.py`; payload = binmap:u64 LE + packed occupied
        bins (each 2**sigbits little-endian u64), mirroring the snapshot
        struct (`hg64.c:46-53`).  Wire size is proportional to data range,
        not stream length (`README.md:15-17`)."""
        bs = km.binsize(self.sigbits)
        occ = self.occupied_bins()
        binmap = 0
        for b in occ.tolist():
            binmap |= 1 << b
        blocks = self.counters.reshape(-1, bs)[occ]
        payload = struct.pack("<Q", binmap) + blocks.astype("<u8").tobytes()
        header = struct.pack("<B", self.sigbits)
        return serde.pack(serde.TYPE_HG64, header, payload)

    @classmethod
    def deserialize(cls, buf: bytes) -> "HG64":
        sigbits, _, counters = next(decode_matrices([buf]))
        return cls(sigbits, counters[0])

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, HG64)
            and self.sigbits == other.sigbits
            and bool(np.array_equal(self.counters, other.counters))
        )

    # -------------------------------------------------------------- snapshot

    def snapshot(self) -> "HG64Snapshot":
        """Freeze for queries (`hg64_snapshot`, `hg64.c:334-371`): computes
        the cumulative totals the reference precomputes per bin so queries
        don't rescan every bucket (`README.md:33-38`)."""
        return HG64Snapshot(self.sigbits, self.counters.copy())


#: most uint64 counters one decoded matrix holds (2^22 cells = 32 MB), so a
#: finalizer's memory is bounded at any sigbits: one sigbits=15 sketch alone
#: is 1.6M cells, so an unchunked batch of them would not fit
MATRIX_CELLS = 1 << 22


def _parse(buf: bytes) -> tuple[int, np.ndarray, np.ndarray]:
    """Validate one serialized hg64: (sigbits, occupied bin indices,
    (bins x binsize) counter blocks).  Every corruption raises ValueError."""
    _, header, payload = serde.expect(buf, serde.TYPE_HG64)
    if len(header) != 1 or len(payload) < 8:
        raise ValueError(
            f"corrupt hg64 sketch: header={len(header)}B payload={len(payload)}B"
        )
    (sigbits,) = struct.unpack("<B", header)
    km.check_sigbits(sigbits)
    (binmap,) = struct.unpack_from("<Q", payload, 0)
    bs = km.binsize(sigbits)
    nbins = km.nkeys(sigbits) // bs
    if binmap >> nbins:
        raise ValueError(f"corrupt hg64 binmap: bins past {nbins} at sigbits={sigbits}")
    occ = np.flatnonzero(np.unpackbits(np.frombuffer(payload, np.uint8, count=8), bitorder="little"))
    if len(payload) != 8 + occ.size * bs * 8:
        raise ValueError("corrupt hg64 payload")
    return sigbits, occ, np.frombuffer(payload, dtype="<u8", offset=8).reshape(occ.size, bs)


def decode_matrices(blobs) -> Iterator[tuple[int, int, np.ndarray]]:
    """Decode serialized hg64 sketches into dense (rows x nkeys) uint64
    counter matrices, in input order.  Each item is ``(sigbits, first row,
    matrix)`` for a run of consecutive blobs with equal sigbits, cut so no
    matrix exceeds ``MATRIX_CELLS``.  Every blob is validated before the
    first matrix is built, so a corrupt one fails the whole call."""
    parsed = [_parse(b) for b in blobs]
    start = 0
    while start < len(parsed):
        sigbits = parsed[start][0]
        nk, bs = km.nkeys(sigbits), km.binsize(sigbits)
        stop, limit = start + 1, min(len(parsed), start + max(1, MATRIX_CELLS // nk))
        while stop < limit and parsed[stop][0] == sigbits:
            stop += 1
        counters = np.zeros((stop - start, nk), dtype=U64)
        for row, (_, occ, blocks) in zip(counters, parsed[start:stop]):
            row.reshape(-1, bs)[occ] = blocks
        yield sigbits, start, counters
        start = stop


def fold_counts(codes, keys, counts, ngroups: int, sigbits: int) -> np.ndarray:
    """Fold ``(group code, hg64 key, count)`` rows into a (ngroups x nkeys)
    uint64 counter matrix with one integer scatter-add: the same-sigbits
    `hg64_merge` (`hg64.c:297-305`) of every row at once.  ``codes`` may
    be a scalar when every row is in one group.  Duplicate ``(group, key)``
    pairs are summed; a negative count or a key outside the key space
    raises ValueError."""
    keys = np.asarray(keys)
    counts = np.asarray(counts)
    nk = km.nkeys(sigbits)
    if counts.size and (counts.min() < 0 or keys.min() < 0 or keys.max() >= nk):
        raise ValueError(f"hg64 counts need 0 <= key < {nk} and count >= 0")
    out = np.zeros((ngroups, nk), dtype=U64)
    np.add.at(out, (codes, keys), counts.astype(U64))
    return out


def as_probes(values) -> np.ndarray:
    """Probe values as uint64.  A negative, NaN or too-large probe raises
    ValueError; numpy would wrap -1 to 2^64-1 with only a warning.  A
    Python sequence is read as exact objects: numpy would make
    ``[2**64 - 1, 0]`` a float64 array."""
    if not isinstance(values, np.ndarray):
        values = np.asarray(values, dtype=object)
    if values.dtype.kind != "u":
        with np.errstate(invalid="ignore"):
            if not bool(((values >= 0) & (values < 2**64)).all()):
                raise ValueError("hg64 probe values must be in [0, 2^64)")
    return values.astype(U64)


class HG64Snapshot:
    """Immutable query view: counters + inclusive cumulative sums.

    The reference keeps per-bin subtotals (`hg64.c:50`); a full prefix-sum
    array is the vectorized generalization — `np.searchsorted` over it is the
    two-level scan of `hg64s_value_at_rank` (`hg64.c:375-408`) in one shot.
    """

    __slots__ = ("sigbits", "counters", "cum", "population")

    def __init__(self, sigbits: int, counters: np.ndarray):
        self.sigbits = sigbits
        self.counters = counters
        self.cum = np.cumsum(counters, dtype=U64)
        self.population = int(self.cum[-1])

    def value_at_rank(self, ranks) -> np.ndarray:
        """Vectorized `hg64s_value_at_rank` (`hg64.c:375-408`): locate the
        bucket holding each rank, then interpolate linearly inside it
        (`hg64.c:103-107,403-407`).  rank >= population -> UINT64_MAX
        (`hg64.c:388-390`)."""
        ranks = np.atleast_1d(np.asarray(ranks, dtype=U64))
        idx = np.searchsorted(self.cum, ranks, side="right")
        oob = ranks >= U64(self.population)
        safe = np.minimum(idx, self.counters.size - 1).astype(np.int64)
        prev = np.where(safe > 0, self.cum[np.maximum(safe - 1, 0)], U64(0)).astype(U64)
        rank_in = ranks - prev
        mins = km.key_to_minval(safe, self.sigbits)
        maxs = km.key_to_maxval(safe, self.sigbits)
        cnts = self.counters[safe]
        vals = mins + km.interpolate_u64(maxs - mins, rank_in, cnts)
        return np.where(oob, _U64_MAX, vals)

    def rank_of_value(self, values) -> np.ndarray:
        """Vectorized `hg64s_rank_of_value` (`hg64.c:410-429`): count below
        the value's bucket plus the interpolated fraction inside it."""
        values = np.atleast_1d(as_probes(values))
        keys = km.value_to_key(values, self.sigbits)
        prev = np.where(keys > 0, self.cum[np.maximum(keys - 1, 0)], U64(0)).astype(U64)
        cnts = self.counters[keys]
        mins = km.key_to_minval(keys, self.sigbits)
        maxs = km.key_to_maxval(keys, self.sigbits)
        return prev + km.interpolate_u64(cnts, values - mins, maxs - mins)

    def value_at_quantile(self, qs) -> np.ndarray:
        """`hg64s_value_at_quantile` (`hg64.c:431-436`): q clamped to [0,1]
        (the header comment says q<1 but the code clamps — we adopt the
        code's behavior), rank = trunc(q * population)."""
        qs = np.atleast_1d(np.asarray(qs, dtype=np.float64))
        qs = np.clip(qs, 0.0, 1.0)
        ranks = np.floor(qs * float(self.population)).astype(U64)
        return self.value_at_rank(ranks)

    def quantile_of_value(self, values) -> np.ndarray:
        """`hg64s_quantile_of_value` (`hg64.c:438-442`).

        Empty sketch: the reference would divide by zero; here every probe
        maps to NaN silently (matching the rest of the API's explicit edge
        handling — NaN is a valid double, not a NULL)."""
        ranks = self.rank_of_value(values).astype(np.float64)
        if self.population == 0:
            return np.full(ranks.shape, np.nan)
        return ranks / float(self.population)

    def mean_variance(self) -> tuple[float, float]:
        """Faithful port of `hg64_mean_variance` (`hg64.c:312-330`):
        single-pass Welford update over bucket midpoints (min/2 + max/2)
        weighted by count, skipping empty buckets; returns (mean, variance).
        Deterministic because the sketch is frozen and iteration is in key
        order.  Algorithm ref cited by the reference:
        https://fanf2.user.srcf.net/hermes/doc/antiforgery/stats.pdf"""
        keys = np.nonzero(self.counters)[0]
        mins = km.key_to_minval(keys, self.sigbits)
        maxs = km.key_to_maxval(keys, self.sigbits)
        cnts = self.counters[keys]
        pop = 0.0
        mean = 0.0
        sigma = 0.0
        for mn, mx, ct in zip(mins.tolist(), maxs.tolist(), cnts.tolist()):
            delta = mn / 2.0 + mx / 2.0 - mean
            pop += ct
            mean += ct * delta / pop
            sigma += ct * delta * (((mn + mx) & _MASK64) - mean)
        if pop == 0.0:
            return 0.0, 0.0
        return mean, sigma / pop

    def mean_variance_corrected(self) -> tuple[float, float]:
        """True count-weighted mean/variance of bucket midpoints.

        The reference's sigma update (`hg64.c:325`) multiplies by
        ``min + max - mean`` (= 2*midpoint - mean) rather than
        ``midpoint - mean``, which overestimates the variance by ~3x
        (verified against the compiled reference in this sandbox; the mean is
        unaffected).  :meth:`mean_variance` reproduces that behavior exactly
        for parity; this method returns the statistically correct value,
        computed from integer-exact sums (deterministic regardless of bucket
        iteration order)."""
        s1, s2, pop = self.midpoint_stats_exact()
        if pop == 0:
            return 0.0, 0.0
        mean = float(s1) / (2.0 * float(pop))
        var = float(s2) / (4.0 * float(pop)) - mean * mean
        return mean, var

    def midpoint_stats_exact(self) -> tuple[int, int, int]:
        """Integer-exact ingredients for the midpoint mean/variance, used by
        the SQL-oracle parity queries (FP only at the very end, so Spark and
        DuckDB agree bitwise):  returns (S1, S2, population) with
        S1 = sum(count * (min+max)) and S2 = sum(count * (min+max)^2) as
        arbitrary-precision ints; mean = S1/(2*pop),
        variance = S2/(4*pop) - mean^2."""
        keys = np.nonzero(self.counters)[0]
        mins = km.key_to_minval(keys, self.sigbits)
        maxs = km.key_to_maxval(keys, self.sigbits)
        cnts = self.counters[keys]
        s1 = 0
        s2 = 0
        for mn, mx, ct in zip(mins.tolist(), maxs.tolist(), cnts.tolist()):
            m = mn + mx
            s1 += ct * m
            s2 += ct * m * m
        return s1, s2, self.population


def _per_row(params: np.ndarray) -> np.ndarray:
    """Query parameters shaped to broadcast against the matrix rows: a
    (k,) vector asks every row the same k questions, a (rows, 1) column
    asks each row its own."""
    return params.reshape(1, -1) if params.ndim < 2 else params


class HG64SnapshotMatrix:
    """:class:`HG64Snapshot` for every row of a (rows x nkeys) counter
    matrix at once: one ``cumsum`` along axis 1 and 2-D numpy per query,
    with the same keymath and the same operation order per element, so
    each row answers bit-identically to its own snapshot.  Queries take a
    (k,) parameter vector or a (rows, 1) column (see :func:`_per_row`)
    and answer (rows x k)."""

    __slots__ = ("sigbits", "counters", "cum", "population")

    def __init__(self, sigbits: int, counters: np.ndarray):
        self.sigbits = sigbits
        self.counters = counters
        self.cum = np.cumsum(counters, axis=1, dtype=U64)
        self.population = self.cum[:, -1]

    def value_at_quantile(self, qs) -> np.ndarray:
        """(rows x k) uint64: :meth:`HG64Snapshot.value_at_quantile`."""
        qs = np.clip(_per_row(np.asarray(qs, dtype=np.float64)), 0.0, 1.0)
        ranks = np.floor(qs * self.population.astype(np.float64)[:, None]).astype(U64)
        # first crossing: the count of cumulative totals <= rank is
        # searchsorted(side="right") on each row
        idx = np.stack([(self.cum <= r[:, None]).sum(axis=1) for r in ranks.T], axis=1)
        oob = ranks >= self.population[:, None]
        safe = np.minimum(idx, self.counters.shape[1] - 1)
        rows = np.arange(self.counters.shape[0])[:, None]
        prev = np.where(safe > 0, self.cum[rows, np.maximum(safe - 1, 0)], U64(0)).astype(U64)
        mins = km.key_to_minval(safe, self.sigbits)
        maxs = km.key_to_maxval(safe, self.sigbits)
        vals = mins + km.interpolate_u64(maxs - mins, ranks - prev, self.counters[rows, safe])
        return np.where(oob, _U64_MAX, vals)

    def rank_of_value(self, values) -> np.ndarray:
        """(rows x k) uint64: :meth:`HG64Snapshot.rank_of_value`."""
        values = _per_row(as_probes(values))
        keys = km.value_to_key(values, self.sigbits)
        rows = np.arange(self.counters.shape[0])[:, None]
        prev = np.where(keys > 0, self.cum[rows, np.maximum(keys - 1, 0)], U64(0)).astype(U64)
        mins = km.key_to_minval(keys, self.sigbits)
        maxs = km.key_to_maxval(keys, self.sigbits)
        return prev + km.interpolate_u64(self.counters[rows, keys], values - mins, maxs - mins)

    def quantile_of_value(self, values) -> np.ndarray:
        """(rows x k) float64: :meth:`HG64Snapshot.quantile_of_value`,
        NaN on an empty row."""
        ranks = self.rank_of_value(values).astype(np.float64)
        pop = self.population.astype(np.float64)[:, None]
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(pop == 0.0, np.nan, ranks / pop)

    def buckets(self):
        """Nonzero cells, row-major: (rows, keys, mins, maxs, counts)."""
        rows, keys = np.nonzero(self.counters)
        mins = km.key_to_minval(keys, self.sigbits)
        maxs = km.key_to_maxval(keys, self.sigbits)
        return rows, keys, mins, maxs, self.counters[rows, keys]

    def midpoint_stats_exact(self):
        """Per row :meth:`HG64Snapshot.midpoint_stats_exact`: (S1, S2) as
        object arrays of arbitrary-precision ints, and the uint64 population."""
        rows, _, mins, maxs, counts = self.buckets()
        m = mins.astype(object) + maxs.astype(object)
        s1 = np.zeros(self.counters.shape[0], dtype=object)
        s2 = np.zeros(self.counters.shape[0], dtype=object)
        s1_cells = counts.astype(object) * m
        np.add.at(s1, rows, s1_cells)
        np.add.at(s2, rows, s1_cells * m)
        return s1, s2, self.population

    def stats(self):
        """Per row (population, mean, variance) of the bucket midpoints, as
        :meth:`HG64Snapshot.mean_variance_corrected`; all three are 0 on an
        empty row.  Each exact integer sum is rounded to double first and
        then divided, the operation order of the SQL oracle, so DuckDB
        agrees bit for bit."""
        s1, s2, pop = self.midpoint_stats_exact()
        popf = pop.astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            mean = np.where(pop > 0, s1.astype(np.float64) / (2.0 * popf), 0.0)
            var = np.where(pop > 0, s2.astype(np.float64) / (4.0 * popf) - mean * mean, 0.0)
        return pop, mean, var
