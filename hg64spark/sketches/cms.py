"""Count-min sketch (Cormode & Muthukrishnan 2005) for heavy-hitter
frequency estimation.

Merge = elementwise counter addition — exactly associative and commutative.
Published guarantees (for width w, depth d, stream weight N):
    estimate >= true count            (always — no deletions here)
    estimate <= true count + eps*N    with probability >= 1 - e^-d,
where eps = e / w.  Asserted by the test suite (``tests/test_oracle.py``
checks the exact top-10 keys against DuckDB) and by the perfbench checks;
cross-validated against Spark's built-in ``count_min_sketch`` aggregate in
tests.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from hg64spark import serde
from hg64spark.sketches.common import U64, hash64, rehash


HASH_SIPHASH = 0  # pandas siphash — the Python/Arrow ingest path
HASH_XXHASH64 = 1  # Spark xxhash64 — the relational (pure-Catalyst) path


class CMS:
    __slots__ = ("width", "depth", "counts", "hash_family")

    def __init__(
        self,
        width: int = 2048,
        depth: int = 5,
        counts: np.ndarray | None = None,
        hash_family: int = HASH_SIPHASH,
    ):
        if width < 8 or depth < 1 or depth > 32:
            raise ValueError(f"bad CMS dims width={width} depth={depth}")
        self.width = width
        self.depth = depth
        self.hash_family = hash_family
        if counts is None:
            self.counts = np.zeros((depth, width), dtype=np.int64)
        else:
            counts = np.asarray(counts, dtype=np.int64)
            if counts.shape != (depth, width):
                raise ValueError("CMS counts shape mismatch")
            self.counts = counts

    def _rows(self, values: np.ndarray) -> np.ndarray:
        """(depth, n) bucket indices: one independent rehash per row."""
        h = hash64(values)
        return np.stack([(rehash(h, j) % U64(self.width)).astype(np.int64) for j in range(self.depth)])

    def add_values(self, values: np.ndarray, weights: np.ndarray | None = None) -> "CMS":
        if self.hash_family != HASH_SIPHASH:
            raise ValueError("cannot add Python-hashed values to an xxhash64-family CMS")
        if len(values) == 0:
            return self
        idx = self._rows(values)
        w = np.ones(idx.shape[1], dtype=np.int64) if weights is None else np.asarray(weights, dtype=np.int64)
        for j in range(self.depth):
            np.add.at(self.counts[j], idx[j], w)
        return self

    def estimate(self, values: np.ndarray) -> np.ndarray:
        """Point-frequency estimates: min over rows."""
        if self.hash_family != HASH_SIPHASH:
            raise ValueError(
                "this CMS was built with the xxhash64 (relational) hash family; "
                "probe it with relational.cms_estimate_relational"
            )
        values = np.asarray(values)
        if values.size == 0:
            return np.zeros(0, dtype=np.int64)
        idx = self._rows(values)
        per_row = np.stack([self.counts[j][idx[j]] for j in range(self.depth)])
        return per_row.min(axis=0)

    @property
    def total(self) -> int:
        """Stream weight N (row 0 column sum — every row sums to N)."""
        return int(self.counts[0].sum())

    def epsilon(self) -> float:
        """Published overestimate bound factor: eps = e / width."""
        return math.e / self.width

    def merge(self, other: "CMS") -> "CMS":
        if (other.width, other.depth, other.hash_family) != (
            self.width,
            self.depth,
            self.hash_family,
        ):
            raise ValueError("cannot merge CMS with different dimensions/hash family")
        self.counts += other.counts
        return self

    def subtract(self, other: "CMS") -> "CMS":
        """Retract a sub-sketch — CMS is LINEAR (cells are sums of
        non-negative adds), so subtracting a genuine sub-stream's sketch is
        exact and preserves the never-underestimate guarantee; among the
        companions only CMS (and hg64) have this property — HLL/Bloom are
        max/or-monotone and KLL/t-digest/MG discard information, none is
        invertible.  A cell underflow (other not a sub-sketch) raises
        rather than silently breaking every later estimate."""
        if (other.width, other.depth, other.hash_family) != (
            self.width,
            self.depth,
            self.hash_family,
        ):
            raise ValueError("cannot subtract CMS with different dimensions/hash family")
        if np.any(other.counts > self.counts):
            raise ValueError("subtract: source is not a sub-sketch (cell underflow)")
        self.counts -= other.counts  # total is derived from counts
        return self

    def serialize(self) -> bytes:
        header = struct.pack("<IIB", self.width, self.depth, self.hash_family)
        return serde.pack(serde.TYPE_CMS, header, self.counts.astype("<i8").tobytes())

    @classmethod
    def deserialize(cls, buf: bytes) -> "CMS":
        _, header, payload = serde.expect(buf, serde.TYPE_CMS)
        if len(header) != 9:
            raise ValueError("corrupt CMS header")
        width, depth, fam = struct.unpack("<IIB", header)
        counts = np.frombuffer(payload, dtype="<i8")
        if counts.size != width * depth:
            raise ValueError("corrupt CMS payload")
        return cls(width, depth, counts.reshape(depth, width).astype(np.int64), hash_family=fam)

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, CMS)
            and (self.width, self.depth, self.hash_family)
            == (other.width, other.depth, other.hash_family)
            and bool(np.array_equal(self.counts, other.counts))
        )
