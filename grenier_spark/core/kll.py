"""KLL streaming quantiles sketch (Karnin, Lang & Liberty, FOCS 2016).

North-rule extension operator (SURVEY.md §2.3 X3); see also "Relative Error
Streaming Quantiles" (PODS 2021) in PAPERS.md for the family context.

Mergeable combiner: level h holds items of weight 2**h; compaction sorts an
over-full level and promotes every other item (deterministic LCG coin so runs
are reproducible); merge concatenates levels pairwise then compacts. Merge is
associative at the ESTIMATE level (rank error within the published bound),
not bit-level — the compaction coin sequence depends on merge shape
(SURVEY.md §2.3 note on KLL/t-digest).

Rank error: eps ~= C/k with C ~ 2.0 at 99% confidence for c = 2/3; tests
assert empirical rank error against exact quantiles.

Wire format: header ``<4sIIQQ`` (magic b"KLL1", k, n_levels, n_total, lcg
state) + per-level lengths (uint32) + concatenated float64 items.
"""

from __future__ import annotations

import struct

import numpy as np

_MAGIC = b"KLL1"
_HDR = struct.Struct("<4sIIQQ")
_C = 2.0 / 3.0


class KLL:
    __slots__ = ("k", "levels", "n", "_lcg")

    def __init__(self, k: int = 200, seed: int = 42):
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = k
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.n = 0
        self._lcg = (seed * 6364136223846793005 + 1442695040888963407) % (1 << 64)

    def _coin(self) -> int:
        self._lcg = (self._lcg * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        return (self._lcg >> 63) & 1

    def _capacity(self, h: int) -> int:
        """Capacity of level h given current height (top level gets k)."""
        depth = len(self.levels) - 1 - h
        return max(2, int(np.ceil(self.k * (_C ** depth))))

    def _total_capacity(self) -> int:
        return sum(self._capacity(h) for h in range(len(self.levels)))

    def _size(self) -> int:
        return sum(len(lv) for lv in self.levels)

    def _compact(self) -> None:
        while self._size() > self._total_capacity():
            for h in range(len(self.levels)):
                if len(self.levels[h]) > self._capacity(h):
                    lv = np.sort(self.levels[h], kind="stable")
                    off = self._coin()
                    if len(lv) % 2 == 1:
                        # keep one item at this level, promote from the rest
                        keep, lv = lv[-1:], lv[:-1]
                    else:
                        keep = lv[:0]
                    promoted = lv[off::2]
                    self.levels[h] = keep
                    if h + 1 == len(self.levels):
                        self.levels.append(np.empty(0, dtype=np.float64))
                    self.levels[h + 1] = np.concatenate([self.levels[h + 1], promoted])
                    break
            else:
                break

    def update_batch(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if not len(values):
            return
        self.levels[0] = np.concatenate([self.levels[0], values])
        self.n += len(values)
        self._compact()

    def merge(self, other: "KLL") -> None:
        if self.k != other.k:
            raise ValueError("merge: KLL k must be identical")
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for h, lv in enumerate(other.levels):
            if len(lv):
                self.levels[h] = np.concatenate([self.levels[h], lv])
        self.n += other.n
        self._lcg ^= other._lcg
        self._compact()

    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        vals, wts = [], []
        for h, lv in enumerate(self.levels):
            if len(lv):
                vals.append(lv)
                wts.append(np.full(len(lv), 1 << h, dtype=np.float64))
        if not vals:
            return np.empty(0), np.empty(0)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantiles(self, qs: "np.ndarray | list[float]") -> np.ndarray:
        """Value at each rank fraction q in [0, 1]."""
        v, w = self._weighted_items()
        if not len(v):
            return np.full(len(np.atleast_1d(qs)), np.nan)
        cum = np.cumsum(w) - 0.5 * w
        total = w.sum()
        qs = np.asarray(qs, dtype=np.float64)
        return np.interp(qs * total, cum, v)

    def rank(self, values: "np.ndarray | list[float]") -> np.ndarray:
        """Estimated fraction of items <= value."""
        v, w = self._weighted_items()
        if not len(v):
            return np.full(len(np.atleast_1d(values)), np.nan)
        cum = np.cumsum(w)
        idx = np.searchsorted(v, np.asarray(values, dtype=np.float64), side="right")
        total = cum[-1]
        return np.where(idx > 0, cum[np.maximum(idx - 1, 0)], 0.0) / total

    def to_bytes(self) -> bytes:
        lens = np.array([len(lv) for lv in self.levels], dtype=np.uint32)
        payload = b"".join(np.ascontiguousarray(lv).tobytes() for lv in self.levels)
        return (_HDR.pack(_MAGIC, self.k, len(self.levels), self.n, self._lcg)
                + lens.tobytes() + payload)

    @classmethod
    def from_bytes(cls, b: bytes) -> "KLL":
        """Inverse of :meth:`to_bytes`. Raises ValueError on a bad magic, a
        blob shorter or longer than its header and level lengths declare,
        or an ``n`` other than the weighted item count the levels hold."""
        if len(b) < _HDR.size:
            raise ValueError("KLL.from_bytes: truncated header")
        magic, k, n_levels, n, lcg = _HDR.unpack_from(b)
        if magic != _MAGIC:
            raise ValueError("KLL.from_bytes: bad magic")
        off = _HDR.size
        if len(b) < off + 4 * n_levels:
            raise ValueError("KLL.from_bytes: truncated level lengths")
        lens = np.frombuffer(b, dtype=np.uint32, count=n_levels, offset=off)
        off += 4 * n_levels
        want = off + 8 * int(lens.sum(dtype=np.uint64))
        if len(b) != want:
            raise ValueError(
                f"KLL.from_bytes: {len(b)} bytes, header declares {want}")
        if n != sum(int(ln) << h for h, ln in enumerate(lens)):
            raise ValueError("KLL.from_bytes: n disagrees with the weighted "
                             "item count of the levels")
        out = cls(k)
        out.n = n
        out._lcg = lcg
        out.levels = []
        for ln in lens:
            out.levels.append(np.frombuffer(b, dtype=np.float64, count=int(ln),
                                            offset=off).copy())
            off += 8 * int(ln)
        if not out.levels:
            out.levels = [np.empty(0, dtype=np.float64)]
        return out
