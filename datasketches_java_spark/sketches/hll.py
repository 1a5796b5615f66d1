"""HLL cardinality sketch — HLL_8 register layout, numpy core.

Re-expresses the reference's HLL family (hll/HllSketch.java:70,
hll/BaseHllSketch.java:292, hll/Union.java:54) with design decisions
from SURVEY.md §2.2:
  - HLL_8 layout only (one uint8 register per slot); the HLL_4 nibble
    packing + AuxHashMap (hll/AuxHashMap.java) is delegated to storage
    codecs;
  - no LIST/SET warm-up promotion (hll/CurMode.java:28) — the constant
    2^lgK register array is fine at our scale; small-n accuracy is
    covered by the linear-counting estimator branch;
  - only merge-safe estimators (no HIP): the composite harmonic-mean
    estimator with low-range linear counting, valid after arbitrary
    unions (the reference's mergeFlag discipline, hll/Union.java:143).

Update hash is the same murmur3_x64_128(key, seed) as theta, so one
hashing pass can feed both sketch kinds.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from ..config import DEFAULT_UPDATE_SEED, HLL_DEFAULT_LG_K
from .murmur3 import hash128_u64

# the engine's retired private image: family, serVer, flags, lgK,
# seedHash16, rsvd — still read so old images load
_LEGACY_HDR = struct.Struct("<BBBBHH")
_LEGACY_FAMILY_SER_VER = b"\x07\x01"


def _seed_hash(seed: int) -> int:
    h1, _ = hash128_u64(np.asarray([seed], dtype=np.int64), 0)
    return int(h1[0]) & 0xFFFF


@dataclass(frozen=True)
class HllSketch:
    lg_k: int
    seed_hash: int
    regs: np.ndarray  # uint8[2^lg_k]

    @property
    def m(self) -> int:
        return 1 << self.lg_k

    def estimate(self) -> float:
        """Composite estimator: harmonic mean + linear counting low range.

        Counterpart of hll/HllSketch.java:300 (composite, merge-safe —
        SURVEY.md §2.2 estimator caveat).
        """
        m = self.m
        regs = self.regs
        n_zero = int(np.count_nonzero(regs == 0))
        # low range: linear counting while any register is empty
        if n_zero > 0:
            lc = m * np.log(m / n_zero)
            if lc <= 2.5 * m:
                return float(lc)
        alpha = 0.7213 / (1.0 + 1.079 / m)
        raw = alpha * m * m / float(np.sum(np.exp2(-regs.astype(np.float64))))
        return float(raw)

    def bounds(self, num_std_dev: int = 2) -> tuple[float, float]:
        """Exact reference bounds: table-driven relative errors for
        lgK ≤ 12 (hll/RelativeErrorTables.java:36), RSE-factor formula
        above, LB floored at the number of non-zero registers
        (hll/HllEstimators.java:48-88, non-HIP path — our estimator is
        always merge-based)."""
        from .bounds import hll_bounds
        num_non_zeros = float(np.count_nonzero(self.regs))
        return hll_bounds(self.estimate(), self.lg_k, num_non_zeros,
                          num_std_dev)

    def to_bytes(self) -> bytes:
        """The reference's HLL_8 image (hll_serde.to_java_bytes).  It
        stores no seed hash: a read image carries the default seed's,
        the only seed the reference's HLL hashes with."""
        from .hll_serde import to_java_bytes
        return to_java_bytes(self)

    @staticmethod
    def from_bytes(buf: bytes) -> "HllSketch":
        """Any reference HLL image (HLL_4/6/8, LIST/SET modes — what
        Spark's HLL aggregates write), or the engine's legacy private
        image.  The legacy image starts family=7, serVer=1, flags=0; a
        reference image starts preInts (2, 3 or 10), serVer, family."""
        buf = bytes(buf)
        if buf[:2] == _LEGACY_FAMILY_SER_VER and buf[2] == 0:
            _f, _v, _fl, lg_k, sh, _r = _LEGACY_HDR.unpack_from(buf)
            regs = np.frombuffer(buf, dtype=np.uint8, count=1 << lg_k,
                                 offset=_LEGACY_HDR.size)
            return HllSketch(lg_k, sh, regs.copy())
        from .hll_serde import from_java_bytes
        return from_java_bytes(buf)


def empty(lg_k: int = HLL_DEFAULT_LG_K, seed: int = DEFAULT_UPDATE_SEED) -> HllSketch:
    return HllSketch(lg_k, _seed_hash(seed), np.zeros(1 << lg_k, dtype=np.uint8))


def sketch_longs(values: np.ndarray, lg_k: int = HLL_DEFAULT_LG_K,
                 seed: int = DEFAULT_UPDATE_SEED) -> HllSketch:
    """Batch build from int64 values (update overloads
    hll/BaseHllSketch.java:292-393)."""
    h1, h2 = hash128_u64(np.asarray(values, dtype=np.int64), seed)
    return from_hash_pair(h1, h2, lg_k, seed)


def from_hash_pair(h1: np.ndarray, h2: np.ndarray, lg_k: int,
                   seed: int = DEFAULT_UPDATE_SEED) -> HllSketch:
    """slot = low lgK bits of h1; value = 1 + #leading-zeros of h2's top
    (64 - lgK are plenty) bits — the coupon split of
    hll/BaseHllSketch.java:292 (26-bit slot / 6-bit value there)."""
    m = 1 << lg_k
    slots = (h1 & np.uint64(m - 1)).astype(np.int64)
    # rank: position of first 1-bit in h2 (from MSB), +1; cap 62
    # use log2-free approach: clz via bit trick on uint64
    w = h2.copy()
    vals = np.full(w.shape, 1, dtype=np.uint8)
    nz = w != 0
    # floor(log2(w)) for nonzero w -> clz = 63 - floor_log2
    fl = np.zeros_like(w)
    ww = w[nz]
    fl_nz = np.zeros(ww.shape, dtype=np.uint64)
    for shift in (32, 16, 8, 4, 2, 1):
        s = np.uint64(shift)
        big = ww >= (np.uint64(1) << s)
        fl_nz[big] += s
        ww = np.where(big, ww >> s, ww)
    fl[nz] = fl_nz
    vals = np.where(nz, (np.uint64(63) - fl + np.uint64(1)).astype(np.uint8),
                    np.uint8(64)).astype(np.uint8)
    regs = np.zeros(m, dtype=np.uint8)
    np.maximum.at(regs, slots, vals)
    return HllSketch(lg_k, _seed_hash(seed), regs)


def union(a: HllSketch, b: HllSketch) -> HllSketch:
    """Max-register merge (hll/Union.java:54,302); downsizes to min lgK
    by folding slots (hll/Union.java:71 lgMaxK rule)."""
    if a.seed_hash != b.seed_hash:
        raise ValueError("HLL seed-hash mismatch")
    if a.lg_k == b.lg_k:
        return HllSketch(a.lg_k, a.seed_hash, np.maximum(a.regs, b.regs))
    lo, hi = (a, b) if a.lg_k < b.lg_k else (b, a)
    # slot = low lgK bits of h1 and the register value comes from h2
    # independently, so folding slot i of the small sketch over
    # {i, i+m, i+2m, ...} of the big one reproduces exactly what a
    # small-lgK sketch of the same stream would hold.
    folded = hi.regs.reshape(-1, lo.m).max(axis=0)
    return HllSketch(lo.lg_k, a.seed_hash, np.maximum(lo.regs, folded))


def union_many(sketches: list[HllSketch]) -> HllSketch:
    out = sketches[0]
    for s in sketches[1:]:
        out = union(out, s)
    return out
