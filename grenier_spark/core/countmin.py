"""Count-min sketch (Cormode & Muthukrishnan 2005).

North-rule extension operator (SURVEY.md §2.3 X1) — not present in the
reference library; semantics come from the published paper. Designed as a
mergeable combiner: update is ``+``, merge is element-wise ``+`` (exact,
associative, commutative), query is ``min`` over rows.

Hash family (SQL-expressible for oracle checks): for row i,
``h_i(key) = wang64(key XOR splitmix64(seed + i + 1)) mod width``.

State: ``int64[depth, width]`` counters + (depth, width, seed) header.
Wire format: little-endian struct header ``<4sIIIq`` (magic b"CMS1", depth,
width, seed, total) followed by the raw counter bytes.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .bits import U64, splitmix64_scalar, wang64

_MAGIC = b"CMS1"
_HDR = struct.Struct("<4sIIIq")


def params_for(epsilon: float, delta: float) -> tuple[int, int]:
    """Paper sizing: width = ceil(e/eps), depth = ceil(ln(1/delta))."""
    return int(math.ceil(math.log(1.0 / delta))), int(math.ceil(math.e / epsilon))


class CountMin:
    __slots__ = ("depth", "width", "seed", "counts", "total")

    def __init__(self, depth: int, width: int, seed: int = 0,
                 counts: np.ndarray | None = None, total: int = 0):
        if depth <= 0 or width <= 0:
            raise ValueError("depth and width must be positive")
        if not 0 <= seed < (1 << 32):
            # wire header packs seed as u32 — fail fast, not at to_bytes
            raise ValueError("seed must fit an unsigned 32-bit int")
        self.depth = depth
        self.width = width
        self.seed = seed
        self.counts = (np.zeros((depth, width), dtype=np.int64)
                       if counts is None else counts)
        self.total = total

    def row_salts(self) -> np.ndarray:
        return np.array([splitmix64_scalar(self.seed + i + 1)
                         for i in range(self.depth)], dtype=U64)

    def _positions(self, hashed: np.ndarray) -> np.ndarray:
        """(depth, n) column indices for pre-wang64-able raw keys."""
        salts = self.row_salts()
        return (wang64(hashed[None, :] ^ salts[:, None]) % U64(self.width)).astype(np.int64)

    def update_batch(self, keys: np.ndarray, weights: np.ndarray | None = None) -> None:
        """Add keys (uint64) with optional integer weights.

        One allocation-light wang64 + bincount pass per hash row (no (d, n)
        2-D temporaries — bincount is the fastest scatter-add numpy has).
        """
        keys = np.asarray(keys).astype(U64, copy=False)
        salts = self.row_salts()
        w = None if weights is None else np.asarray(weights, dtype=np.int64)
        # bincount sums weights in float64 — exact only while every cell's
        # per-call sum stays under 2^53 (always true for the multiplicity
        # weights the build pipeline passes: bounded by the Arrow batch
        # size). Huge explicit weights would silently round, breaking the
        # exact-int64-counter contract — take the slow exact scatter-add.
        exact_slow = w is not None and len(w) and (
            int(np.abs(w).max()) >= (1 << 53) // max(len(w), 1))
        pow2 = (self.width & (self.width - 1)) == 0
        for i in range(self.depth):
            pos = wang64(keys ^ salts[i])
            if pow2:  # x % 2^k == x & (2^k - 1); avoids the integer divide
                np.bitwise_and(pos, U64(self.width - 1), out=pos)
            else:
                np.mod(pos, U64(self.width), out=pos)
            ip = pos.astype(np.intp, copy=False)
            if w is None:
                self.counts[i] += np.bincount(ip, minlength=self.width)
            elif exact_slow:
                np.add.at(self.counts[i], ip, w)
            else:
                self.counts[i] += np.bincount(
                    ip, weights=w, minlength=self.width).astype(np.int64)
        self.total += len(keys) if w is None else int(w.sum())

    def query(self, keys: np.ndarray) -> np.ndarray:
        """Point estimate: min over rows (upper bound on true count)."""
        keys = np.asarray(keys).astype(U64, copy=False)
        pos = self._positions(keys)
        ests = self.counts[np.arange(self.depth)[:, None], pos]
        return ests.min(axis=0)

    def merge(self, other: "CountMin") -> None:
        if (self.depth, self.width, self.seed) != (other.depth, other.width, other.seed):
            raise ValueError("merge: count-min configs must be identical")
        self.counts += other.counts
        self.total += other.total

    def fold(self, depth_new: "int | None" = None,
             width_new: "int | None" = None) -> "CountMin":
        """EXACT shrink to (depth_new, width_new): bit-identical to a
        sketch built directly at the smaller config from the same stream.

        Depth: row i's column hash is salted by ``seed + i + 1``
        independent of depth, so keeping the FIRST depth_new rows equals
        a direct depth_new build. Width: requires ``width_new | width``
        — then ``h % width % width_new == h % width_new``, so summing
        cells congruent mod width_new equals direct width_new counts
        (weighted inserts included; the estimate only loosens by the
        published eps = e/width_new). Enables merging heterogeneous
        CMS fleets at the coarsest config without rescans."""
        d2 = self.depth if depth_new is None else int(depth_new)
        w2 = self.width if width_new is None else int(width_new)
        if not (1 <= d2 <= self.depth):
            raise ValueError(f"fold: need 1 <= depth_new <= {self.depth}")
        if not (1 <= w2 <= self.width) or self.width % w2:
            raise ValueError(
                f"fold: width_new must divide width={self.width}, got {w2}")
        counts = (self.counts[:d2]
                  .reshape(d2, self.width // w2, w2).sum(axis=1))
        return CountMin(d2, w2, self.seed, counts=counts, total=self.total)

    def to_bytes(self) -> bytes:
        return _HDR.pack(_MAGIC, self.depth, self.width, self.seed,
                         self.total) + self.counts.tobytes()

    @classmethod
    def from_bytes(cls, b: bytes) -> "CountMin":
        """Inverse of :meth:`to_bytes`. Raises ValueError on a short header,
        a bad magic, a zero depth or width, a payload other than
        8 * depth * width bytes, or a row whose counters do not sum to
        ``total`` (every update, merge and fold adds the same weight to
        each row and to ``total``)."""
        if len(b) < _HDR.size:
            raise ValueError("CountMin.from_bytes: truncated header")
        magic, depth, width, seed, total = _HDR.unpack_from(b)
        if magic != _MAGIC:
            raise ValueError("CountMin.from_bytes: bad magic")
        if depth == 0 or width == 0:
            raise ValueError("CountMin.from_bytes: zero depth or width")
        want = _HDR.size + 8 * depth * width
        if len(b) != want:
            raise ValueError(
                f"CountMin.from_bytes: {len(b)} bytes, header declares {want}")
        counts = np.frombuffer(b, dtype=np.int64, offset=_HDR.size).reshape(depth, width).copy()
        if (counts.sum(axis=1) != total).any():
            raise ValueError("CountMin.from_bytes: a row sum disagrees with total")
        return cls(depth, width, seed, counts, total)
