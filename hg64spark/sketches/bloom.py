"""Bloom filter for set membership (conv_id membership per north_rule).

Merge = bitwise OR — exactly associative and commutative.  Guarantees:
no false negatives (asserted exactly per key by ``tests/test_oracle.py``
and the perfbench checks); false positive probability
~ (1 - e^(-k n / m))^k, asserted within slack by the test suite.  Bits are stored as packed uint64 words.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from hg64spark import serde
from hg64spark.sketches.common import U64, hash64, rehash


HASH_SIPHASH = 0  # pandas siphash — the Python/Arrow ingest path
HASH_XXHASH64 = 1  # Spark xxhash64 — the relational (pure-Catalyst) path


class Bloom:
    __slots__ = ("n_bits", "n_hashes", "words", "hash_family")

    def __init__(
        self,
        n_bits: int = 1 << 20,
        n_hashes: int = 7,
        words: np.ndarray | None = None,
        hash_family: int = HASH_SIPHASH,
    ):
        if n_bits % 64 != 0 or n_bits <= 0:
            raise ValueError("n_bits must be a positive multiple of 64")
        if not 1 <= n_hashes <= 32:
            raise ValueError("n_hashes must be in [1, 32]")
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.hash_family = hash_family
        if words is None:
            self.words = np.zeros(n_bits // 64, dtype=U64)
        else:
            words = np.asarray(words, dtype=U64)
            if words.shape != (n_bits // 64,):
                raise ValueError("Bloom words shape mismatch")
            self.words = words

    @classmethod
    def for_capacity(cls, n: int, fpp: float = 0.01) -> "Bloom":
        """Size for ~n distinct items at the target false-positive rate."""
        m, k = cls.params_for_capacity(n, fpp)
        return cls(m, k)

    @staticmethod
    def params_for_capacity(n: int, fpp: float = 0.01) -> tuple[int, int]:
        """(n_bits, n_hashes) for ~n distinct items at the target fpp — the
        sizing math alone, for callers that build the filter relationally
        (``relational.bloom_words_relational``) instead of instantiating."""
        m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        m = (m + 63) // 64 * 64
        k = max(1, round(m / max(n, 1) * math.log(2)))
        return m, min(k, 32)

    def _bit_positions(self, values: np.ndarray) -> np.ndarray:
        """(k, n) bit indices via double hashing h1 + i*h2."""
        h1 = hash64(values)
        h2 = rehash(h1, 1) | U64(1)  # odd so the stride covers the table
        m = U64(self.n_bits)
        return np.stack([((h1 + U64(i) * h2) % m) for i in range(self.n_hashes)])

    def add_values(self, values: np.ndarray, weights=None) -> "Bloom":
        if self.hash_family != HASH_SIPHASH:
            raise ValueError("cannot add Python-hashed values to an xxhash64-family Bloom filter")
        if len(values) == 0:
            return self
        pos = self._bit_positions(values).ravel()
        np.bitwise_or.at(self.words, (pos >> U64(6)).astype(np.int64), U64(1) << (pos & U64(63)))
        return self

    def contains(self, values: np.ndarray) -> np.ndarray:
        if self.hash_family != HASH_SIPHASH:
            raise ValueError(
                "this Bloom filter was built with the xxhash64 (relational) hash "
                "family; probe it with relational.bloom_contains_relational — "
                "Python-side probing would produce false negatives"
            )
        values = np.asarray(values)
        if values.size == 0:
            return np.zeros(0, dtype=bool)
        pos = self._bit_positions(values)
        hits = (self.words[(pos >> U64(6)).astype(np.int64)] >> (pos & U64(63))) & U64(1)
        return hits.all(axis=0)

    def fpp_bound(self, n_items: int) -> float:
        """Expected false-positive probability after n_items insertions."""
        k, m = self.n_hashes, self.n_bits
        return (1.0 - math.exp(-k * n_items / m)) ** k

    def merge(self, other: "Bloom") -> "Bloom":
        if (other.n_bits, other.n_hashes, other.hash_family) != (
            self.n_bits,
            self.n_hashes,
            self.hash_family,
        ):
            raise ValueError("cannot merge Blooms with different parameters/hash family")
        self.words |= other.words
        return self

    def intersect(self, other: "Bloom") -> "Bloom":
        """Bitwise AND — a CONSERVATIVE membership filter for A ∩ B: every
        true member of the intersection set its bits in BOTH filters, so
        `contains` on the result never false-negatives for A ∩ B.  It is
        NOT the Bloom of A ∩ B (bits set by different items in A and B
        coincide), so its false-positive rate is bounded below by
        fpp(A)·fpp(B) but above by min(fpp(A), fpp(B)) — use it to prune,
        never to count.  Union, by contrast, is exact set algebra: `merge`
        (bitwise OR) IS the Bloom of A ∪ B."""
        if (other.n_bits, other.n_hashes, other.hash_family) != (
            self.n_bits,
            self.n_hashes,
            self.hash_family,
        ):
            raise ValueError("cannot intersect Blooms with different parameters/hash family")
        self.words &= other.words
        return self

    def serialize(self) -> bytes:
        header = struct.pack("<QIB", self.n_bits, self.n_hashes, self.hash_family)
        return serde.pack(serde.TYPE_BLOOM, header, self.words.astype("<u8").tobytes())

    @classmethod
    def deserialize(cls, buf: bytes) -> "Bloom":
        _, header, payload = serde.expect(buf, serde.TYPE_BLOOM)
        if len(header) != 13:
            raise ValueError("corrupt Bloom header")
        n_bits, n_hashes, fam = struct.unpack("<QIB", header)
        words = np.frombuffer(payload, dtype="<u8")
        if words.size != n_bits // 64:
            raise ValueError("corrupt Bloom payload")
        return cls(n_bits, n_hashes, words.astype(U64), hash_family=fam)

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, Bloom)
            and (self.n_bits, self.n_hashes, self.hash_family)
            == (other.n_bits, other.n_hashes, other.hash_family)
            and bool(np.array_equal(self.words, other.words))
        )
