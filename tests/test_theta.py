"""Theta sketch correctness — mirrors the reference's accuracy tests.

- exact-mode results bit-identical to exact counts
  (test: theta/HeapUnionTest.java:59 "exact, no overlap", tolerance 0.0)
- estimation mode <= 5% relative error at lgK=12
  (test: theta/HeapUnionTest.java:90,170)
- Jaccard sensitivity at k=4096
  (test: theta/JaccardSimilarityTest.java:77-135)
- merge algebra: associativity/commutativity, union == sketch-of-union
  (cpc/MergingValidation.java:40 pattern)
"""

import numpy as np
import pytest

from datasketches_java_spark.sketches import theta as th


def sk(values, lg_k=12, seed=9001):
    return th.sketch_longs(np.asarray(values, dtype=np.int64), lg_k, seed)


def test_empty():
    s = th.empty()
    assert s.is_empty and s.estimate() == 0.0
    assert s.bounds() == (0.0, 0.0)


def test_exact_mode_is_exact():
    s = sk(np.arange(1000))
    assert not s.is_estimation_mode
    assert s.estimate() == 1000.0
    lb, ub = s.bounds(2)
    assert lb == 1000.0 and ub == 1000.0


def test_duplicates_ignored():
    vals = np.concatenate([np.arange(500)] * 5)
    assert sk(vals).estimate() == 500.0


def test_estimation_mode_error_lgk12():
    # theta/HeapUnionTest.java:90,170 — <= 5% relative error at lgK=12
    n = 200_000
    s = sk(np.arange(n))
    assert s.is_estimation_mode
    assert s.count <= 4096
    assert abs(s.estimate() - n) / n < 0.05
    lb, ub = s.bounds(2)
    assert lb <= n <= ub


def test_union_exact_no_overlap():
    a, b = sk(np.arange(0, 1000)), sk(np.arange(1000, 2000))
    u = th.union(a, b)
    assert u.estimate() == 2000.0  # tolerance 0.0 (HeapUnionTest.java:59)


def test_union_estimation_error():
    parts = [sk(np.arange(i * 50_000, (i + 1) * 50_000)) for i in range(8)]
    u = th.union_many(parts)
    n = 400_000
    assert abs(u.estimate() - n) / n < 0.05


def test_union_commutative_associative():
    a, b, c = sk(np.arange(0, 80_000)), sk(np.arange(40_000, 120_000)), sk(np.arange(100_000, 150_000))
    u1 = th.union(th.union(a, b), c)
    u2 = th.union(a, th.union(b, c))
    u3 = th.union(c, th.union(b, a))
    for x, y in [(u1, u2), (u1, u3)]:
        assert x.theta == y.theta
        assert np.array_equal(x.hashes, y.hashes)


def test_union_equals_sketch_of_union():
    # union(sk(A), sk(B)) ~ sk(A ∪ B): identical retained set when built
    # from the same update hashes (merge path bypasses re-hashing).
    a_vals, b_vals = np.arange(0, 90_000), np.arange(60_000, 150_000)
    u = th.union(sk(a_vals), sk(b_vals))
    direct = sk(np.concatenate([a_vals, b_vals]))
    # same theta rule applied to the same hash multiset -> same estimate sign
    assert abs(u.estimate() - direct.estimate()) / direct.estimate() < 0.05
    both = th.union(u, direct)
    assert abs(both.estimate() - 150_000) / 150_000 < 0.05


def test_intersection_exact():
    a, b = sk(np.arange(0, 1500)), sk(np.arange(1000, 2500))
    i = th.intersect(a, b)
    assert i.estimate() == 500.0


def test_a_not_b_exact():
    a, b = sk(np.arange(0, 1500)), sk(np.arange(1000, 2500))
    d = th.a_not_b(a, b)
    assert d.estimate() == 1000.0


def test_set_ops_estimation_mode():
    a, b = sk(np.arange(0, 300_000)), sk(np.arange(100_000, 400_000))
    i, d = th.intersect(a, b), th.a_not_b(a, b)
    assert abs(i.estimate() - 200_000) / 200_000 < 0.15  # |∩| error compounds
    assert abs(d.estimate() - 100_000) / 100_000 < 0.15


def test_jaccard_identical_sets():
    # JaccardSimilarityTest.java:77 — J > 0.9999 for identical sets @ k=4096
    a, b = sk(np.arange(100_000)), sk(np.arange(100_000))
    lb, est, ub = th.jaccard(a, b)
    assert est > 0.9999 and ub >= 1.0 - 1e-12


def test_jaccard_detects_single_item_diff():
    # JaccardSimilarityTest.java:135 — one-item difference detected at
    # k=4096 while the sketch still retains every hash (exact mode).
    a = sk(np.arange(4_000))
    b = sk(np.arange(4_001))
    assert not th.exactly_equal(a, b)
    assert th.exactly_equal(a, sk(np.arange(4_000)))
    lb, est, ub = th.jaccard(a, b)
    assert est < 1.0 and est == pytest.approx(4000 / 4001)


def test_jaccard_exact_mode_value():
    a, b = sk(np.arange(0, 1000)), sk(np.arange(500, 1500))
    lb, est, ub = th.jaccard(a, b)
    assert est == pytest.approx(500 / 1500, abs=0)
    assert lb == est == ub  # exact mode -> degenerate CI


def test_jaccard_estimation_mode():
    a, b = sk(np.arange(0, 200_000)), sk(np.arange(100_000, 300_000))
    lb, est, ub = th.jaccard(a, b)
    true_j = 100_000 / 300_000
    assert lb <= true_j <= ub
    assert abs(est - true_j) < 0.1
    assert th.similarity_test(a, sk(np.arange(0, 200_000)), 0.99)


def test_seed_mismatch_rejected():
    a, b = sk(np.arange(10), seed=9001), sk(np.arange(10), seed=12345)
    with pytest.raises(ValueError, match="seed-hash"):
        th.union(a, b)


def test_serde_roundtrip():
    for s in [th.empty(), sk(np.arange(100)), sk(np.arange(300_000))]:
        r = th.ThetaSketch.from_bytes(s.to_bytes())
        assert r.lg_k == s.lg_k and r.theta == s.theta
        assert np.array_equal(r.hashes, s.hashes)
        assert r.estimate() == s.estimate()


def test_serde_stable_bytes():
    s = sk(np.arange(50_000))
    assert s.to_bytes() == th.ThetaSketch.from_bytes(s.to_bytes()).to_bytes()


# -- round 3: sampling probability p and binary-column updates --------------

def test_p_sampling_unbiased_and_bounded():
    """UpdateSketchBuilder.setP semantics: theta starts at p*2^63,
    estimates stay unbiased for the full stream."""
    import numpy as np
    from datasketches_java_spark.sketches import theta as th
    n = 50_000
    sk = th.sketch_longs(np.arange(n), lg_k=14, p=0.25)
    assert sk.theta <= np.uint64(int(0.25 * float(th.MAX_THETA)))
    est = sk.estimate()
    assert abs(est - n) / n < 0.05
    lb, ub = sk.bounds(2)
    assert lb <= n <= ub
    # serde + union with an ordinary sketch respects the theta rule
    other = th.sketch_longs(np.arange(n, 2 * n), lg_k=14)
    u = th.union(th.ThetaSketch.from_bytes(sk.to_bytes()), other)
    assert u.theta <= sk.theta
    assert abs(u.estimate() - 2 * n) / (2 * n) < 0.05


def test_p_validation():
    import numpy as np
    import pytest
    from datasketches_java_spark.sketches import theta as th
    with pytest.raises(ValueError, match="sampling probability"):
        th.sketch_longs(np.arange(5), p=0.0)
    with pytest.raises(ValueError, match="sampling probability"):
        th.sketch_longs(np.arange(5), p=1.5)


def test_binary_column_agg_matches_string_agg(spark):
    """update(byte[]) parity: a BINARY column of UTF-8 bytes must
    produce the byte-identical sketch as the STRING column (the
    reference hashes the same byte stream in both overloads)."""
    from pyspark.sql import functions as F
    from datasketches_java_spark.functions.sketch_aggs import theta_sketch_agg
    df = spark.createDataFrame(
        [(f"item-{i % 500}",) for i in range(2000)], ["s"])
    df = df.withColumn("b", F.col("s").cast("binary"))
    img_s = theta_sketch_agg(df, "s", lg_k=12).head()[0]
    img_b = theta_sketch_agg(df, "b", lg_k=12).head()[0]
    assert bytes(img_s) == bytes(img_b)
    est = theta_sketch_agg(df, "b", lg_k=12).select(
        F.theta_sketch_estimate("theta_sketch")).head()[0]
    assert round(est) == 500
