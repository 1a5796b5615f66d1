"""Kernel microbenchmarks: the numpy cores the Spark operators call,
on seeded arrays, pinned to one core, outside Spark.

Operation counts and bytes per item are computed from the kernels'
code, not measured:
  - minhash_flat: per permutation one multiply, one add and one
    min-reduce over each u64 value; the value and its temp are read or
    written 5 times (8 B each) per permutation.
  - simhash_flat: per bit one shift, one mask and one sum-reduce,
    again 5 touches of 8 B per bit.
  - murmur3 x64-128: 22 u64 ops per 16-byte block, 11 for the tail,
    20 for finalisation (two fmix64 plus the mixing adds); bytes are
    the key bytes in plus offsets and one u64 hash out.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

DOCS = 2000
SHINGLES = 200          # per doc, about the fixtures' mean
STRINGS = 200_000
STRING_BYTES = 12
KEYS = 1_000_000
UNION_IMAGES = 64
REPS = 5


def _median_s(fn) -> float:
    fn()
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _murmur_ops(n_bytes: int) -> int:
    return 22 * (n_bytes // 16) + (11 if n_bytes % 16 else 0) + 20


def run(seed: int) -> dict:
    """Items/s of each kernel, with computed ops and bytes per item."""
    from datasketches_java_spark.config import (
        DEFAULT_LG_K, DEFAULT_UPDATE_SEED, MINHASH_PERMS, SIMHASH_BITS)
    from datasketches_java_spark.functions.minhash import minhash_flat, simhash_flat
    from datasketches_java_spark.sketches import theta
    from datasketches_java_spark.sketches.murmur3 import (
        theta_hash_bytes_batch, theta_hash_u64)

    rng = np.random.default_rng(seed)
    lengths = np.full(DOCS, SHINGLES, dtype=np.int64)
    starts = np.arange(DOCS, dtype=np.int64) * SHINGLES
    values = rng.integers(0, 2**63, DOCS * SHINGLES, dtype=np.int64).view(np.uint64)
    flat = rng.integers(97, 123, STRINGS * STRING_BYTES, dtype=np.uint8)
    s_starts = np.arange(STRINGS, dtype=np.int64) * STRING_BYTES
    s_lengths = np.full(STRINGS, STRING_BYTES, dtype=np.int64)
    keys = rng.integers(0, 2**62, KEYS, dtype=np.int64)
    images = [theta.sketch_longs(rng.integers(0, 2**62, 20_000, dtype=np.int64),
                                 DEFAULT_LG_K) for _ in range(UNION_IMAGES)]

    saved = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {min(saved)})
    try:
        t_min = _median_s(lambda: minhash_flat(values, starts, lengths))
        t_sim = _median_s(lambda: simhash_flat(values, starts, lengths))
        t_bytes = _median_s(lambda: theta_hash_bytes_batch(
            flat, s_starts, s_lengths, DEFAULT_UPDATE_SEED))
        t_u64 = _median_s(lambda: theta_hash_u64(keys, DEFAULT_UPDATE_SEED))
        t_union = _median_s(lambda: theta.union_many(images))
    finally:
        os.sched_setaffinity(0, saved)

    n = values.size
    return {
        "metrics": {
            "minhash.flat_mitems_s": n / t_min / 1e6,
            "simhash.flat_mitems_s": n / t_sim / 1e6,
            "murmur3.bytes_batch_mitems_s": STRINGS / t_bytes / 1e6,
            "murmur3.u64_mitems_s": KEYS / t_u64 / 1e6,
            "theta.union_many_per_s": UNION_IMAGES / t_union,
        },
        "computed": {
            "minhash.flat": {"ops_per_item": 3 * MINHASH_PERMS,
                             "bytes_per_item": 5 * 8 * MINHASH_PERMS},
            "simhash.flat": {"ops_per_item": 3 * SIMHASH_BITS,
                             "bytes_per_item": 5 * 8 * SIMHASH_BITS},
            "murmur3.bytes_batch": {"ops_per_item": _murmur_ops(STRING_BYTES),
                                    "bytes_per_item": STRING_BYTES + 2 * 8 + 8},
            "murmur3.u64": {"ops_per_item": _murmur_ops(8),
                            "bytes_per_item": 8 + 8},
        },
    }
