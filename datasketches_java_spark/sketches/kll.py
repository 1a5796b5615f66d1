"""KLL quantiles sketch over doubles — numpy level-buffer core.

Re-expresses the reference's KLL (kll/KllSketch.java:76,
kll/KllDoublesSketch.java:295, kll/KllDoublesHelper.java:38,215,
kll/KllHelper.java:142,870) with batch ingestion:

  - level buffers with weight 2^level; level capacity
    ceil(k * (2/3)^(depth-1-level)), floor 8 — kll/KllHelper.java
    capacity rule;
  - compaction: sort the level, keep every other item from a random
    offset, promote to level+1 (kll/KllDoublesHelper.java "randomly
    halve");
  - merge: concatenate level-wise then compact while over capacity
    (kll/KllDoublesHelper.java:38 mergeDoubleImpl);
  - queries via the cumulative-weight sorted view
    (kll/KllDoublesSketchSortedView.java:37,76) with INCLUSIVE /
    EXCLUSIVE search criteria
    (quantilescommon/QuantileSearchCriteria.java:41,44);
  - normalized rank error 2.296/k^0.9723 single-sided
    (kll/KllHelper.java:104-107) — exported for test tolerances.

While n <= the retained capacity no compaction happens and every query
is EXACT (the oracle-comparison mode used by __spark_entry__).
Randomness is a deterministic seeded PCG64 so runs are reproducible.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from ..config import KLL_DEFAULT_K

# the engine's retired private image: family, serVer, flags, k,
# numLevels, n, min, max, rsvd — still read so old images load
_LEGACY_HDR = struct.Struct("<BBBxHHQddI")
_LEGACY_FAMILY = 15
_RNG_SEED = 137


def rank_error(k: int) -> float:
    """Single-sided normalized rank error (kll/KllHelper.java:104-107)."""
    return 2.296 / (k ** 0.9723)


def _cap(k: int, num_levels: int, level: int) -> int:
    depth = num_levels - 1 - level
    return max(8, int(np.ceil(k * (2.0 / 3.0) ** depth)))


@dataclass
class KllDoublesSketch:
    k: int
    n: int
    min_value: float
    max_value: float
    levels: list[np.ndarray]  # levels[i] = float64 items with weight 2^i

    # -- construction ---------------------------------------------------
    @staticmethod
    def new(k: int = KLL_DEFAULT_K) -> "KllDoublesSketch":
        return KllDoublesSketch(k, 0, np.inf, -np.inf, [np.empty(0, np.float64)])

    def _total_retained(self) -> int:
        return sum(lv.shape[0] for lv in self.levels)

    def _capacity(self) -> int:
        return sum(_cap(self.k, len(self.levels), i) for i in range(len(self.levels)))

    def update_batch(self, xs: np.ndarray) -> "KllDoublesSketch":
        """Batch insert (kll/KllDoublesSketch.java:295 scalar loop,
        vectorized)."""
        xs = np.asarray(xs, dtype=np.float64)
        xs = xs[~np.isnan(xs)]
        if xs.size == 0:
            return self
        self.n += int(xs.size)
        self.min_value = min(self.min_value, float(xs.min()))
        self.max_value = max(self.max_value, float(xs.max()))
        self.levels[0] = np.concatenate([self.levels[0], xs])
        self._compress()
        return self

    def _compress(self) -> None:
        """Compact lowest over-capacity level while over total capacity
        (kll/KllHelper.java:142 compressWhileUpdatingSketch,
        findLevelToCompact :870)."""
        rng = np.random.default_rng(_RNG_SEED + self.n)
        while self._total_retained() > self._capacity():
            num = len(self.levels)
            target = None
            for lvl in range(num):
                if self.levels[lvl].shape[0] > _cap(self.k, num, lvl):
                    target = lvl
                    break
            if target is None:
                target = int(np.argmax([lv.shape[0] for lv in self.levels]))
            buf = np.sort(self.levels[target])
            off = int(rng.integers(0, 2))
            promoted = buf[off::2]
            self.levels[target] = np.empty(0, np.float64)
            if target + 1 == len(self.levels):
                self.levels.append(np.empty(0, np.float64))
            self.levels[target + 1] = np.concatenate(
                [self.levels[target + 1], promoted])

    # -- merge ------------------------------------------------------------
    def merge(self, other: "KllDoublesSketch") -> "KllDoublesSketch":
        """Level-wise merge + recompact (kll/KllDoublesHelper.java:38)."""
        if other.n == 0:
            return self
        if self.n == 0:
            self.k = min(self.k, other.k)
        self.k = min(self.k, other.k)
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, np.float64))
        for i, lv in enumerate(other.levels):
            self.levels[i] = np.concatenate([self.levels[i], lv])
        self.n += other.n
        self.min_value = min(self.min_value, other.min_value)
        self.max_value = max(self.max_value, other.max_value)
        self._compress()
        return self

    # -- queries ------------------------------------------------------------
    def _sorted_view(self) -> tuple[np.ndarray, np.ndarray]:
        """(sorted items, cumulative weights) —
        kll/KllDoublesSketchSortedView.java:37."""
        items = np.concatenate(self.levels)
        weights = np.concatenate([
            np.full(lv.shape[0], 1 << i, dtype=np.int64)
            for i, lv in enumerate(self.levels)])
        order = np.argsort(items, kind="stable")
        return items[order], np.cumsum(weights[order])

    def quantile(self, rank: float, inclusive: bool = True) -> float:
        """Quantile at normalized rank (kll/KllDoublesSketch.java:197).

        INCLUSIVE: smallest item whose cumulative weight >= rank*n —
        the exact order statistic in exact mode (matches DuckDB
        quantile_disc)."""
        if self.n == 0:
            raise ValueError("empty sketch")
        items, cw = self._sorted_view()
        pos = rank * self.n
        if inclusive:
            idx = int(np.searchsorted(cw, pos - 1e-9, side="left"))
        else:
            idx = int(np.searchsorted(cw, pos, side="right"))
        idx = min(max(idx, 0), items.shape[0] - 1)
        return float(items[idx])

    def quantiles(self, ranks: list[float], inclusive: bool = True) -> list[float]:
        return [self.quantile(r, inclusive) for r in ranks]

    def rank(self, x: float, inclusive: bool = True) -> float:
        """Normalized rank of x (kll/KllDoublesSketch.java:245)."""
        if self.n == 0:
            raise ValueError("empty sketch")
        items, cw = self._sorted_view()
        idx = int(np.searchsorted(items, x, side="right" if inclusive else "left"))
        return 0.0 if idx == 0 else float(cw[idx - 1]) / self.n

    def pmf(self, split_points: list[float]) -> list[float]:
        """Probability mass between split points
        (kll/KllDoublesSketch.java:190)."""
        cdf = self.cdf(split_points)
        return [cdf[0]] + [cdf[i] - cdf[i - 1] for i in range(1, len(cdf))]

    def cdf(self, split_points: list[float]) -> list[float]:
        return [self.rank(p) for p in split_points] + [1.0]

    # -- serde ------------------------------------------------------------
    def to_bytes(self) -> bytes:
        """The reference's compact doubles image
        (kll_serde.to_java_bytes)."""
        from .kll_serde import to_java_bytes
        return to_java_bytes(self)

    @staticmethod
    def from_bytes(buf: bytes) -> "KllDoublesSketch":
        """A reference compact KLL image, doubles or floats
        (kll_serde.from_java_bytes), or the engine's legacy private
        image.  The legacy image starts with family 15; a reference
        image starts with preInts 2 or 5."""
        buf = bytes(buf)
        if buf[0] != _LEGACY_FAMILY:
            from .kll_serde import from_java_bytes
            return from_java_bytes(buf)
        fam, ver, _f, k, num_levels, n, mn, mx, _r = _LEGACY_HDR.unpack_from(buf)
        if ver != 1:
            raise ValueError(f"bad KLL image family={fam} ver={ver}")
        off = _LEGACY_HDR.size
        levels = []
        for _ in range(num_levels):
            (cnt,) = struct.unpack_from("<I", buf, off)
            off += 4
            levels.append(np.frombuffer(buf, dtype="<f8", count=cnt,
                                        offset=off).astype(np.float64))
            off += cnt * 8
        return KllDoublesSketch(k, n, mn, mx, levels)


def ks_statistic(a: KllDoublesSketch, b: KllDoublesSketch) -> float:
    """Kolmogorov-Smirnov D statistic between two sketched distributions
    (quantiles/KolmogorovSmirnov.java:38 computeKSDelta)."""
    ia, _ = a._sorted_view()
    ib, _ = b._sorted_view()
    pts = np.union1d(ia, ib)
    d = 0.0
    for p in pts:
        d = max(d, abs(a.rank(float(p)) - b.rank(float(p))))
    return d


def ks_test(a: KllDoublesSketch, b: KllDoublesSketch, p_value: float = 0.01) -> bool:
    """True iff the two distributions differ significantly
    (quantiles/KolmogorovSmirnov.java:105)."""
    d = ks_statistic(a, b)
    eps_a, eps_b = rank_error(a.k), rank_error(b.k)
    c = np.sqrt(-0.5 * np.log(p_value / 2.0))
    thresh = c * np.sqrt((a.n + b.n) / (a.n * b.n)) + eps_a + eps_b
    return d > thresh
