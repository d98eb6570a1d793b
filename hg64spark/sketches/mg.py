"""Misra-Gries frequent-items sketch (Misra & Gries 1982; mergeable form per
Agarwal, Cormode, Huang, Phillips, Wei, Yi — "Mergeable Summaries", PODS'12).

Complements the count-min sketch on the heavy-hitter axis with the opposite
bias: CMS never UNDERestimates (est in [true, true + eps*N]); Misra-Gries
never OVERestimates (est in [true - N/(k+1), true]).  Running both brackets
every true count from above and below.  When the number of distinct items
never exceeds k, Misra-Gries is EXACT (no decrement ever fires) — which is
why the per-tool driver gate below is deterministic.

Batched update: fold the batch's exact (item, count) pairs into the summary,
then if more than k items are tracked, subtract the (k+1)-th largest count
from everything and drop the non-positive (one "decrement" step covering
many stream decrements at once — the standard batched form, same bound).
Merge = counter addition + one shrink, exactly the PODS'12 construction, so
the additive error of a merge tree is bounded by N_total/(k+1) regardless of
partitioning — the mergeability the north rule requires.

Guarantees (asserted by tests and the driver gate):
    true - N/(k+1) <= estimate <= true       (estimate of untracked item = 0)
    every item with true count > N/(k+1) is tracked (no heavy hitter missed)
"""

from __future__ import annotations

import struct

import numpy as np

from hg64spark import serde


def item_key(v) -> str:
    """The counter key of one item, shared by every tier: ``str(v)``, with a
    binary item (bytes or bytearray) keyed as ``str(bytes(v))`` so it is
    never decoded or stripped of trailing NULs."""
    return str(bytes(v)) if isinstance(v, (bytes, bytearray)) else str(v)


def _keys(values: np.ndarray) -> np.ndarray:
    # numpy's str conversion ASCII-decodes bytes and drops trailing NULs, so
    # an array holding binary items is keyed item by item, still into a
    # fixed-width unicode array that np.unique sorts in C; every other array
    # (numbers, str objects from a string column) keeps astype(str)
    if values.dtype.kind == "S" or (
        values.dtype.kind == "O"
        and any(issubclass(t, (bytes, bytearray)) for t in set(map(type, values.tolist())))
    ):
        return np.array([item_key(v) for v in values.tolist()])
    return values.astype(str)


class MG:
    __slots__ = ("k", "counters", "n")

    def __init__(self, k: int = 64, counters: dict | None = None, n: int = 0):
        if not 1 <= k <= 1_000_000:
            raise ValueError(f"MG k must be in [1, 1e6], got {k}")
        self.k = k
        self.counters: dict[str, int] = counters if counters is not None else {}
        self.n = n

    # ------------------------------------------------------------- internals

    def _shrink(self) -> None:
        if len(self.counters) <= self.k:
            return
        # subtract the (k+1)-th largest count from all; drop non-positive.
        # deterministic regardless of dict order (threshold depends on the
        # multiset of counts only)
        counts = np.fromiter(self.counters.values(), dtype=np.int64)
        delta = int(np.partition(counts, -(self.k + 1))[-(self.k + 1)])
        self.counters = {it: c - delta for it, c in self.counters.items() if c - delta > 0}

    # -------------------------------------------------------------- protocol

    def add_values(self, values: np.ndarray, weights: np.ndarray | None = None) -> "MG":
        values = np.asarray(values)
        if values.size == 0:
            return self
        if weights is None:
            uniq, cnt = np.unique(_keys(values), return_counts=True)
        else:
            w = np.asarray(weights, dtype=np.int64)
            if (w < 0).any():
                raise ValueError("MG weights must be non-negative")
            uniq, inv = np.unique(_keys(values), return_inverse=True)
            # integer-exact accumulation: bincount(weights=...) sums in
            # float64, which silently loses precision above 2^53 and would
            # break the never-overestimate guarantee for extreme weights
            cnt = np.zeros(uniq.size, dtype=np.int64)
            np.add.at(cnt, inv, w)
        for it, c in zip(uniq.tolist(), cnt.tolist()):
            if c:
                if len(it) > 16_383 and len(it.encode("utf-8")) > 0xFFFF:
                    # the wire format length-prefixes items with u16 — fail at
                    # ADD time with a clear message, not struct.error deep in
                    # a Spark task at serialize time
                    raise ValueError(f"MG item exceeds 65535 UTF-8 bytes: {it[:50]!r}...")
                self.counters[it] = self.counters.get(it, 0) + int(c)
        self.n += int(cnt.sum())
        self._shrink()
        return self

    def merge(self, other: "MG") -> "MG":
        if other.k != self.k:
            raise ValueError("cannot merge MG sketches with different k")
        for it, c in other.counters.items():
            self.counters[it] = self.counters.get(it, 0) + c
        self.n += other.n
        self._shrink()
        return self

    # --------------------------------------------------------------- queries

    def estimate(self, items) -> np.ndarray:
        """Lower-bound frequency estimates (0 for untracked items) of one item
        or a sequence of items."""
        if isinstance(items, (str, bytes, bytearray)) or np.isscalar(items):
            items = [items]
        elif isinstance(items, np.ndarray):
            items = np.atleast_1d(items)
        return np.array([self.counters.get(item_key(it), 0) for it in items], dtype=np.int64)

    def top(self, m: int | None = None) -> list[tuple[str, int]]:
        """Tracked items by estimated count desc (deterministic tiebreak)."""
        ranked = sorted(self.counters.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked if m is None else ranked[:m]

    def error_bound(self) -> int:
        """Max possible undercount: floor(N / (k+1))."""
        return self.n // (self.k + 1)

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, MG)
            and (self.k, self.n) == (other.k, other.n)
            and self.counters == other.counters
        )

    # ----------------------------------------------------------------- serde

    def serialize(self) -> bytes:
        header = struct.pack("<IQI", self.k, self.n, len(self.counters))
        parts = []
        for it, c in sorted(self.counters.items()):
            b = it.encode("utf-8")
            if len(b) > 0xFFFF:
                raise ValueError(f"MG item exceeds 65535 UTF-8 bytes: {it[:50]!r}...")
            parts.append(struct.pack("<Hq", len(b), c))
            parts.append(b)
        return serde.pack(serde.TYPE_MG, header, b"".join(parts))

    @classmethod
    def deserialize(cls, buf: bytes) -> "MG":
        _, header, payload = serde.expect(buf, serde.TYPE_MG)
        if len(header) != 16:
            raise ValueError("corrupt MG header")
        k, n, n_items = struct.unpack("<IQI", header)
        counters: dict[str, int] = {}
        off = 0
        for _ in range(n_items):
            if off + 10 > len(payload):
                raise ValueError("corrupt MG payload")
            blen, c = struct.unpack_from("<Hq", payload, off)
            off += 10
            end = off + blen
            if end > len(payload):
                raise ValueError("corrupt MG payload")
            counters[payload[off:end].decode("utf-8")] = c
            off = end
        # invariant checks, matching the other sketches' corruption handling:
        # a crafted blob must not load into a sketch whose error_bound and
        # estimates are silently wrong
        if len(counters) > k:
            raise ValueError(f"corrupt MG payload: {len(counters)} counters > k={k}")
        if any(c <= 0 for c in counters.values()):
            raise ValueError("corrupt MG payload: non-positive counter")
        if sum(counters.values()) > n:
            raise ValueError("corrupt MG payload: counters exceed stream length n")
        return cls(k, counters, n)
