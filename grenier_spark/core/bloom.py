"""Bloom filter (Bloom 1970) with Kirsch–Mitzenmacher double hashing.

North-rule extension operator (SURVEY.md §2.3 X2). Mergeable combiner:
update sets k bits, merge is bitwise OR (exact, associative, idempotent).

Hash family (SQL-expressible): ``h1 = wang64(key XOR splitmix64(seed + 1))``,
``h2 = wang64(key XOR splitmix64(seed + 2)) | 1`` (odd, so strides cover the
ring), ``g_i = (h1 + i * h2) mod m`` for i in 0..k-1.

In-memory state keeps one byte per bit (duplicate-safe vectorized scatter);
the wire format packs to bits: header ``<4sQII`` (magic b"BLM1", m, k, seed)
+ ``packbits`` payload.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .bits import U64, splitmix64_scalar, wang64

_MAGIC = b"BLM1"
_HDR = struct.Struct("<4sQII")


def params_for(n_items: int, fpr: float) -> tuple[int, int]:
    """Classic sizing: m = -n ln(p)/ln(2)^2 bits, k = m/n ln 2."""
    m = int(math.ceil(-n_items * math.log(fpr) / (math.log(2.0) ** 2)))
    k = max(1, round(m / n_items * math.log(2.0)))
    return m, k


class Bloom:
    __slots__ = ("m", "k", "seed", "bits")

    def __init__(self, m: int, k: int, seed: int = 0, bits: np.ndarray | None = None):
        if m <= 0 or k <= 0:
            raise ValueError("m and k must be positive")
        if not 0 <= seed < (1 << 32):
            # the wire header packs seed as u32 — fail at construction,
            # not mid-task at partial-state serialization
            raise ValueError("seed must fit an unsigned 32-bit int")
        self.m = m
        self.k = k
        self.seed = seed
        self.bits = np.zeros(m, dtype=np.uint8) if bits is None else bits

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        keys = np.asarray(keys).astype(U64, copy=False)
        h1 = wang64(keys ^ U64(splitmix64_scalar(self.seed + 1)))
        h2 = wang64(keys ^ U64(splitmix64_scalar(self.seed + 2))) | U64(1)
        i = np.arange(self.k, dtype=U64)[:, None]
        return ((h1[None, :] + i * h2[None, :]) % U64(self.m)).astype(np.int64)

    def update_batch(self, keys: np.ndarray) -> None:
        keys = np.asarray(keys).astype(U64, copy=False)
        h1 = wang64(keys ^ U64(splitmix64_scalar(self.seed + 1)))
        h2 = wang64(keys ^ U64(splitmix64_scalar(self.seed + 2))) | U64(1)
        pos = np.empty_like(h1)
        pow2 = (self.m & (self.m - 1)) == 0
        for i in range(self.k):
            np.multiply(h2, U64(i), out=pos)
            np.add(pos, h1, out=pos)
            if pow2:
                np.bitwise_and(pos, U64(self.m - 1), out=pos)
            else:
                np.mod(pos, U64(self.m), out=pos)
            self.bits[pos.astype(np.intp, copy=False)] = 1

    def contains(self, keys: np.ndarray) -> np.ndarray:
        pos = self._positions(keys)
        return self.bits[pos].all(axis=0)

    def merge(self, other: "Bloom") -> None:
        if (self.m, self.k, self.seed) != (other.m, other.k, other.seed):
            raise ValueError("merge: bloom configs must be identical")
        np.bitwise_or(self.bits, other.bits, out=self.bits)

    def fold(self, m_new: int) -> "Bloom":
        """EXACT shrink to m_new bits (``m_new | m`` required): OR-ing
        bit groups congruent mod m_new is bit-identical to a filter
        built directly at m_new, because every probe position
        ``(h1 + i*h2) % m % m_new == (h1 + i*h2) % m_new``. k and seed
        are unchanged (k cannot fold: bits from the dropped hash rows
        are not separable). Enables merging heterogeneous Bloom fleets
        at the coarsest size without rescans — fpr degrades exactly as
        a native m_new filter's would, no worse."""
        m2 = int(m_new)
        if not (1 <= m2 <= self.m) or self.m % m2:
            raise ValueError(f"fold: m_new must divide m={self.m}, got {m2}")
        bits = self.bits.reshape(self.m // m2, m2).max(axis=0)
        return Bloom(m2, self.k, self.seed, bits=bits)

    def fill_ratio(self) -> float:
        return float(np.count_nonzero(self.bits)) / self.m

    def fpr(self) -> float:
        """Current false-positive rate estimate: fill_ratio ** k."""
        return self.fill_ratio() ** self.k

    def cardinality(self) -> float:
        """Swamidass–Baldi estimate: -(m/k) * ln(1 - X/m)."""
        x = np.count_nonzero(self.bits)
        if x >= self.m:
            return float("inf")
        return -(self.m / self.k) * math.log(1.0 - x / self.m)

    def to_bytes(self) -> bytes:
        return _HDR.pack(_MAGIC, self.m, self.k, self.seed) + np.packbits(self.bits).tobytes()

    @classmethod
    def from_bytes(cls, b: bytes) -> "Bloom":
        """Inverse of :meth:`to_bytes`. Raises ValueError on a short header,
        a bad magic, a payload other than ceil(m / 8) bytes, or a set
        padding bit past ``m``."""
        if len(b) < _HDR.size:
            raise ValueError("Bloom.from_bytes: truncated header")
        magic, m, k, seed = _HDR.unpack_from(b)
        if magic != _MAGIC:
            raise ValueError("Bloom.from_bytes: bad magic")
        if len(b) != _HDR.size + (m + 7) // 8:
            raise ValueError("Bloom.from_bytes: truncated payload")
        packed = np.frombuffer(b, dtype=np.uint8, offset=_HDR.size)
        if m % 8 and packed[-1] & ((1 << (8 - m % 8)) - 1):
            raise ValueError("Bloom.from_bytes: padding bits past m are set")
        bits = np.unpackbits(packed)[:m].copy()
        return cls(m, k, seed, bits)
