"""Theta (KMV bottom-k) distinct sketch — numpy core, batch semantics.

Re-expresses the reference's theta family (theta/Sketch.java:47,
theta/UpdateSketch.java:178, theta/UnionImpl.java:300,
theta/IntersectionImpl.java:229, theta/AnotBimpl.java:65,
theta/JaccardSimilarity.java:55) as immutable numpy values.

Semantic contract preserved exactly:
  - update hash = murmur3_x64_128(item, seed)[0] >>> 1, zero rejected,
    values kept iff < theta (theta/UpdateSketch.java:260,
    thetacommon/HashOperations.java:321);
  - nominal k = 2^lg_k; when more than k distinct hashes are retained the
    new theta is the (k+1)-th smallest and the k smallest are kept — the
    batch analogue of quickSelectAndRebuild
    (theta/HeapQuickSelectSketch.java:300-309,
    thetacommon/QuickSelect.java:91).  Because we rebuild per batch
    instead of at the 15/16 fill mark, retained counts are always <= k;
    estimator properties are identical and exact-mode results are
    bit-identical to the reference;
  - estimate = count / (theta/2^63-1)  (theta/Sketch.java:628);
  - union theta-rule: theta <- min(thetas), re-select top-k
    (theta/UnionImpl.java:315);
  - intersection/A-not-B keep all qualifying hashes (no k cap),
    theta <- min (theta/IntersectionImpl.java:229, theta/AnotBimpl.java:65);
  - seed-hash checked on every binary-op (theta/UnionImpl.java:308).

State is ALWAYS kept sorted, so merges get the reference's
"early stop on ordered input" optimization (theta/UnionImpl.java:323-338)
for free via np.searchsorted slicing.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from ..config import DEFAULT_LG_K, DEFAULT_UPDATE_SEED, MAX_LG_K, MIN_LG_K
from .murmur3 import hash128_u64, theta_hash_u64

MAX_THETA = np.uint64((1 << 63) - 1)  # Long.MAX_VALUE
_MAX_THETA_F = float((1 << 63) - 1)

# the engine's retired private image: family, serVer, flags, lgK,
# seedHash, rsvd, theta, count — still read so old images load
_LEGACY_HDR = struct.Struct("<BBBBHHQI4x")
_LEGACY_FAMILY_SER_VER = b"\x01\x01"


def compute_seed_hash(seed: int) -> int:
    """16-bit seed hash, nonzero (thetacommon/ThetaUtil.java seed check)."""
    h1, _ = hash128_u64(np.asarray([seed], dtype=np.int64), 0)
    sh = int(h1[0]) & 0xFFFF
    if sh == 0:
        raise ValueError(f"seed {seed} hashes to 0 seed-hash; choose another")
    return sh


@dataclass(frozen=True)
class ThetaSketch:
    """Immutable compact theta sketch (theta/CompactSketch.java:52 analogue)."""

    lg_k: int
    seed_hash: int
    theta: np.uint64  # exclusive upper bound on retained hashes
    hashes: np.ndarray  # sorted distinct uint64, all in (0, theta)

    # -- queries ------------------------------------------------------------
    @property
    def count(self) -> int:
        return int(self.hashes.shape[0])

    @property
    def is_empty(self) -> bool:
        return self.count == 0 and self.theta == MAX_THETA

    @property
    def is_estimation_mode(self) -> bool:
        return self.theta != MAX_THETA

    @property
    def theta_frac(self) -> float:
        return float(self.theta) / _MAX_THETA_F

    def estimate(self) -> float:
        """count / theta — unbiased (theta/Sketch.java:264,628)."""
        if not self.is_estimation_mode:
            return float(self.count)
        return self.count / self.theta_frac

    def bounds(self, num_std_dev: int = 2) -> tuple[float, float]:
        """(lower, upper) confidence bounds — the reference's exact
        binomial-tail estimator (thetacommon/BinomialBoundsN.java:234,
        257: continuity-corrected classic interval for >120 samples,
        EquivTables-adjusted interval for tiny theta, exact tail walk
        in the hard middle range), NOT a Gaussian approximation."""
        from .bounds import binomial_bounds_lower, binomial_bounds_upper
        return (binomial_bounds_lower(self.count, self.theta_frac,
                                      num_std_dev, self.is_empty),
                binomial_bounds_upper(self.count, self.theta_frac,
                                      num_std_dev, self.is_empty))

    # -- serde ------------------------------------------------------------
    def to_bytes(self) -> bytes:
        """The reference's serVer-3 compact-ordered image
        (theta_serde.to_java_bytes)."""
        from .theta_serde import to_java_bytes
        return to_java_bytes(self)

    @staticmethod
    def from_bytes(buf: bytes) -> "ThetaSketch":
        """Any reference compact image (serVer 1-4, including the
        compressed serVer 4 Spark's theta aggregates write), or the
        engine's legacy private image.  The legacy image starts
        family=1, serVer=1, flags<=1; no reference image does, since a
        reference image starts preLongs, serVer and serVer 1 needs
        preLongs 3."""
        buf = bytes(buf)
        if buf[:2] == _LEGACY_FAMILY_SER_VER and buf[2] <= 1:
            _f, _v, _fl, lg_k, seed_hash, _r, theta, count = \
                _LEGACY_HDR.unpack_from(buf)
            hashes = np.frombuffer(buf, dtype="<u8", count=count,
                                   offset=_LEGACY_HDR.size)
            return ThetaSketch(lg_k, seed_hash, np.uint64(theta),
                               hashes.astype(np.uint64))
        from .theta_serde import from_java_bytes
        return from_java_bytes(buf, seed=None)


def empty(lg_k: int = DEFAULT_LG_K, seed: int = DEFAULT_UPDATE_SEED) -> ThetaSketch:
    _check_lg_k(lg_k)
    return ThetaSketch(lg_k, compute_seed_hash(seed), MAX_THETA,
                       np.empty(0, dtype=np.uint64))


def _check_lg_k(lg_k: int) -> None:
    if not (MIN_LG_K <= lg_k <= MAX_LG_K):
        raise ValueError(f"lg_k must be in [{MIN_LG_K},{MAX_LG_K}], got {lg_k}")


def _rebuild(hashes: np.ndarray, theta: np.uint64, lg_k: int) -> tuple[np.ndarray, np.uint64]:
    """Sorted-distinct input -> enforce the k-nominal theta rule.

    Batch form of quickSelectAndRebuild (theta/HeapQuickSelectSketch.java:300):
    new theta = (k+1)-th smallest, retain the k smallest.
    """
    k = 1 << lg_k
    if hashes.shape[0] > k:
        theta = hashes[k]  # (k+1)-th smallest of the sorted array
        hashes = hashes[:k]
    return hashes, theta


def from_update_hashes(update_hashes: np.ndarray, lg_k: int = DEFAULT_LG_K,
                       seed: int = DEFAULT_UPDATE_SEED,
                       p: float = 1.0) -> ThetaSketch:
    """Build a sketch from already-murmured 63-bit update hashes.

    This is the merge-path "backdoor" of the reference
    (theta/UnionImpl.java:328 — the hash function is bypassed).

    ``p`` is the up-front sampling probability
    (UpdateSketchBuilder.setP, theta/UpdateSketchBuilder.java:199):
    the sketch starts at theta = p·2^63, so hashes >= p·2^63 are
    rejected on update and estimates stay unbiased for the full
    stream.  p == 1.0 (the default) is the ordinary sketch.
    """
    _check_lg_k(lg_k)
    if not (0.0 < p <= 1.0):
        raise ValueError(f"sampling probability p must be in (0,1], got {p}")
    theta0 = MAX_THETA if p == 1.0 else np.uint64(int(p * float(MAX_THETA)))
    h = np.asarray(update_hashes, dtype=np.uint64)
    h = h[(h > 0) & (h < theta0)]
    h = np.unique(h)  # sorted + distinct
    h, theta = _rebuild(h, theta0, lg_k)
    return ThetaSketch(lg_k, compute_seed_hash(seed), theta, h)


def sketch_longs(values: np.ndarray, lg_k: int = DEFAULT_LG_K,
                 seed: int = DEFAULT_UPDATE_SEED,
                 p: float = 1.0) -> ThetaSketch:
    """Sketch a batch of int64 values (update(long) overload,
    theta/UpdateSketch.java:220)."""
    uh = theta_hash_u64(np.asarray(values, dtype=np.int64), seed)
    return from_update_hashes(uh, lg_k, seed, p)


def sketch_doubles(values: np.ndarray, lg_k: int = DEFAULT_LG_K,
                   seed: int = DEFAULT_UPDATE_SEED,
                   p: float = 1.0) -> ThetaSketch:
    """Sketch a batch of float64 values with the reference's
    canonicalization (−0.0 → 0.0, all NaNs collapse) before hashing
    the IEEE-754 bits (update(double), theta/UpdateSketch.java:236)."""
    from .hash_adaptors import canonical_double_bits
    return sketch_longs(canonical_double_bits(values), lg_k, seed, p)


def _check_seeds(a: ThetaSketch, b: ThetaSketch) -> None:
    """Empty sketches carry no seed hash in the reference image, so
    they merge with any seed (theta/UnionImpl.java:308 skips them)."""
    if a.seed_hash != b.seed_hash and not (a.is_empty or b.is_empty):
        raise ValueError(
            f"seed-hash mismatch {a.seed_hash} != {b.seed_hash} "
            "(theta/UnionImpl.java:308 contract)")


def _trim(s: ThetaSketch, theta: np.uint64) -> np.ndarray:
    """Hashes of s below theta — early-stop slice on the sorted state
    (theta/UnionImpl.java:323-338)."""
    if s.theta <= theta:
        return s.hashes
    return s.hashes[: np.searchsorted(s.hashes, theta)]


def union(a: ThetaSketch, b: ThetaSketch) -> ThetaSketch:
    """Theta-rule union (theta/UnionImpl.java:300-358)."""
    return union_many([a, b])


def union_many(sketches: list[ThetaSketch],
               lg_k: int | None = None) -> ThetaSketch:
    """N-way union in one pass (associative+commutative, §3.2).  Like
    the reference's union, the nominal size is the caller's ``lg_k``.
    Without one it is the largest of the inputs': compact images store
    no k, so a read sketch carries a lower bound inferred from its
    count (theta_serde._lg_k_for_count), and the largest keeps every
    input's information."""
    if not sketches:
        raise ValueError("union_many of zero sketches")
    if lg_k is None:
        lg_k = max(s.lg_k for s in sketches)
    ref = next((s for s in sketches if not s.is_empty), sketches[0])
    for s in sketches:
        _check_seeds(ref, s)
    theta = min(s.theta for s in sketches)
    parts = [_trim(s, theta) for s in sketches]
    merged = np.unique(np.concatenate(parts))
    merged, theta = _rebuild(merged, theta, lg_k)
    return ThetaSketch(lg_k, ref.seed_hash, theta, merged)


def intersect(a: ThetaSketch, b: ThetaSketch) -> ThetaSketch:
    """Keep hashes present in both, theta <- min; retains ALL common
    hashes, no k cap (theta/IntersectionImpl.java:229,297)."""
    _check_seeds(a, b)
    theta = min(a.theta, b.theta)
    common = np.intersect1d(_trim(a, theta), _trim(b, theta))
    return ThetaSketch(min(a.lg_k, b.lg_k), a.seed_hash, theta, common)


def a_not_b(a: ThetaSketch, b: ThetaSketch) -> ThetaSketch:
    """Set difference A \\ B (theta/AnotBimpl.java:65,85,165)."""
    _check_seeds(a, b)
    theta = min(a.theta, b.theta)
    diff = np.setdiff1d(_trim(a, theta), _trim(b, theta), assume_unique=True)
    return ThetaSketch(min(a.lg_k, b.lg_k), a.seed_hash, theta, diff)


def jaccard(a: ThetaSketch, b: ThetaSketch,
            num_std_dev: int = 2) -> tuple[float, float, float]:
    """(lower, estimate, upper) Jaccard J(A,B) = |A∩B| / |A∪B|.

    Mirrors theta/JaccardSimilarity.java:55: the union of the two
    trimmed sets plays A, the intersection plays B ⊆ A, and the CI
    comes from the exact sketched-set ratio bounds
    (thetacommon/BoundsOnRatiosInThetaSketchedSets.java →
    common/BoundsOnRatiosInSampledSets.java, fixed 2σ) — no Gaussian
    stand-in.  ``num_std_dev`` is accepted for API compatibility; the
    reference pins the interval at ±2σ (JaccardSimilarity.java:53-54).
    """
    _check_seeds(a, b)
    if a.is_empty and b.is_empty:
        return 1.0, 1.0, 1.0
    if a.is_empty != b.is_empty:
        return 0.0, 0.0, 0.0
    theta = min(a.theta, b.theta)
    ha, hb = _trim(a, theta), _trim(b, theta)
    union = np.union1d(ha, hb)
    n_union = int(union.shape[0])
    if n_union == 0:
        return 1.0, 1.0, 1.0
    # identical-data fast path (JaccardSimilarity.java:81-85)
    if ha.shape[0] == hb.shape[0] == n_union:
        return 1.0, 1.0, 1.0
    n_inter = int(np.intersect1d(ha, hb).shape[0])
    from .bounds import theta_ratio_bounds
    theta_frac = float(theta) / _MAX_THETA_F if theta != MAX_THETA else 1.0
    return theta_ratio_bounds(n_union, n_inter, theta_frac)


def exactly_equal(a: ThetaSketch, b: ThetaSketch) -> bool:
    """Identity test (theta/JaccardSimilarity.java:106)."""
    _check_seeds(a, b)
    if a.is_empty and b.is_empty:
        return True
    if a.is_empty != b.is_empty:
        return False
    theta = min(a.theta, b.theta)
    ha, hb = _trim(a, theta), _trim(b, theta)
    return ha.shape[0] == hb.shape[0] and bool(np.array_equal(ha, hb))


def similarity_test(a: ThetaSketch, b: ThetaSketch, threshold: float) -> bool:
    """True iff J lower bound >= threshold (theta/JaccardSimilarity.java:148)."""
    lb, _, _ = jaccard(a, b)
    return lb >= threshold
