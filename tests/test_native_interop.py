"""Interop with the datasketches-java jar Spark ships: the images of
Spark's built-in theta/HLL/KLL/frequent-items aggregates read back in
the engine, and the engine's images heapify in the JVM (reached as
``spark._jvm.org.apache.datasketches``) with the same answers."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketches_java_spark.sketches import hll, theta, theta_serde
from datasketches_java_spark.sketches.frequencies import (
    NO_FALSE_NEGATIVES, NO_FALSE_POSITIVES, ItemsSketch)
from datasketches_java_spark.sketches.kll import KllDoublesSketch

INTERIOR_RANKS = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)


@pytest.fixture(scope="module")
def ds(spark):
    return spark._jvm.org.apache.datasketches


def _wrap(ds, img: bytes):
    return ds.memory.Memory.wrap(bytearray(img))


def _one(df, agg) -> bytes:
    return bytes(df.agg(agg.alias("sk")).first()["sk"])


# -- KLL -------------------------------------------------------------------

@pytest.mark.parametrize("n", [1, 150, 20_000])
def test_kll_reader_on_builtin_double_and_float_images(spark, ds, n):
    """datasketches-java 6.x sets no doubles flag on either image: the
    reader tells the item type from the image's length."""
    x = np.random.default_rng(n).standard_normal(n)
    df = spark.createDataFrame([(float(v),) for v in x], "d double")
    img_d = _one(df, F.kll_sketch_agg_double("d", 200))
    img_f = _one(df.select(F.col("d").cast("float").alias("f")),
                 F.kll_sketch_agg_float("f", 200))
    jd = ds.kll.KllDoublesSketch.heapify(_wrap(ds, img_d))
    jf = ds.kll.KllFloatsSketch.heapify(_wrap(ds, img_f))
    got_d = KllDoublesSketch.from_bytes(img_d)
    got_f = KllDoublesSketch.from_bytes(img_f)
    for got, j in ((got_d, jd), (got_f, jf)):
        assert got.n == j.getN() == n
        assert np.float32(got.min_value) == np.float32(j.getMinItem())
        assert np.float32(got.max_value) == np.float32(j.getMaxItem())
    assert got_d.min_value == x.min() and got_d.max_value == x.max()
    for r in INTERIOR_RANKS:
        assert got_d.quantile(r) == jd.getQuantile(r)
        assert np.float32(got_f.quantile(r)) == np.float32(jf.getQuantile(r))


@pytest.mark.parametrize("n", [1, 100, 5_000, 100_000])
def test_engine_kll_image_heapifies_in_jvm(ds, n):
    x = np.random.default_rng(7).standard_normal(n)
    sk = KllDoublesSketch.new(200).update_batch(x)
    j = ds.kll.KllDoublesSketch.heapify(_wrap(ds, sk.to_bytes()))
    assert j.getN() == n and j.getK() == 200
    assert j.getMinItem() == sk.min_value and j.getMaxItem() == sk.max_value
    for r in INTERIOR_RANKS:
        assert j.getQuantile(r) == sk.quantile(r)
    for v in x[:20]:
        assert j.getRank(float(v)) == sk.rank(float(v))


# -- HLL -------------------------------------------------------------------

@pytest.mark.parametrize("n", [10, 1_000, 100_000])
def test_engine_hll_image_heapifies_in_jvm(ds, n):
    """The registers survive the JVM round trip bit-exactly.  The JVM's
    estimator is not the engine's composite one, so their estimates
    agree to within the JVM's own one-sigma bounds."""
    sk = hll.sketch_longs(np.arange(n), 12)
    j = ds.hll.HllSketch.heapify(_wrap(ds, sk.to_bytes()))
    assert j.getLgConfigK() == 12
    back = hll.HllSketch.from_bytes(bytes(j.toCompactByteArray()))
    assert np.array_equal(back.regs, sk.regs)
    assert j.getLowerBound(1) <= sk.estimate() <= j.getUpperBound(1)


@pytest.mark.parametrize("dtype", ["int", "bigint", "string"])
def test_builtin_hll_registers_equal_engine(spark, dtype):
    import pandas as pd

    from datasketches_java_spark.functions.sketch_aggs import _utf8_flat
    from datasketches_java_spark.sketches.murmur3 import hash128_bytes_batch
    n = 50_000
    img = _one(spark.range(n).select(F.col("id").cast(dtype)),
               F.hll_sketch_agg("id", 12))
    if dtype == "string":
        h1, h2 = hash128_bytes_batch(
            *_utf8_flat(pd.Series([str(i) for i in range(n)])), 9001)
        want = hll.from_hash_pair(h1, h2, 12)
    else:
        want = hll.sketch_longs(np.arange(n), 12)
    assert np.array_equal(hll.HllSketch.from_bytes(img).regs, want.regs)


# -- frequent items --------------------------------------------------------

def _jvm_items(ds, img: bytes):
    return ds.frequencies.ItemsSketch.getInstance(
        _wrap(ds, img), ds.common.ArrayOfStringsSerDe())


def _zipf_strings(seed: int, n: int, distinct: int) -> list[str]:
    rng = np.random.default_rng(seed)
    return [f"d{int(x)}" for x in rng.zipf(1.3, n) % distinct]


@pytest.mark.parametrize("mode", ["exact", "purged"])
def test_engine_freq_image_heapifies_in_jvm(ds, mode):
    """The JVM holds the engine's counters unchanged (no purge on
    heapify): active items, stream length, maximum error and every
    item's lower and upper bound.  The image's map fits the engine's
    64 counters (the JVM's capacity, 0.75 x 2^lgMaxMapSize), also with
    60 of them in use."""
    sk = (ItemsSketch(64).update_batch(
              ["a"] * 5 + ["b"] * 3 + [f"i{i}" for i in range(58)])
          if mode == "exact" else
          ItemsSketch(64).update_batch(_zipf_strings(3, 5_000, 1_000)))
    assert sk.is_exact == (mode == "exact")
    j = _jvm_items(ds, sk.to_bytes())
    assert j.getCurrentMapCapacity() <= j.getMaximumMapCapacity() >= 64
    assert j.getNumActiveItems() == len(sk.counts)
    assert j.getStreamLength() == sk.stream_weight
    assert j.getMaximumError() == sk.offset
    for item in sk.counts:
        assert j.getLowerBound(item) == sk.lower_bound(item)
        assert j.getUpperBound(item) == sk.upper_bound(item)
    if mode == "exact":
        assert j.getEstimate("a") == sk.estimate("a") == 5


@pytest.mark.parametrize("error_type", [NO_FALSE_POSITIVES, NO_FALSE_NEGATIVES])
def test_builtin_freq_image_reads_like_jvm(spark, ds, error_type):
    """``freq_sketch_agg``'s image (Spark's ``approx_top_k_accumulate``,
    purged here: 5,000 distinct items, 1,024 tracked) lists, in the
    engine, the items and bounds the JVM's heapify of it lists, at
    thresholds below, at and above the maximum error."""
    from datasketches_java_spark.functions import sketch_aggs as A
    df = spark.createDataFrame(
        [(s,) for s in _zipf_strings(5, 30_000, 5_000)], "s string")
    img = bytes(A.freq_sketch_agg(df, "s").first()["freq_sketch"])
    sk, j = ItemsSketch.from_bytes(img), _jvm_items(ds, img)
    assert sk.offset == j.getMaximumError() > 0
    assert sk.stream_weight == j.getStreamLength() == 30_000
    et = getattr(ds.frequencies.ErrorType, error_type)
    for t in (0, sk.offset, sk.offset + 1, 100, 1_000):
        want = {(r.getItem(), r.getEstimate(), r.getLowerBound(),
                 r.getUpperBound()) for r in j.getFrequentItems(t, et)}
        assert set(sk.frequent_items(t, error_type)) == want


# -- theta -----------------------------------------------------------------

@pytest.mark.parametrize("n", [0, 1, 100, 1_000, 10_000, 100_000])
def test_builtin_theta_images_decode_to_jvm_entries(spark, ds, n):
    """Spark writes serVer 4 (compressed) from two entries up; the
    engine decodes it to the entries and theta the JVM holds."""
    img = _one(spark.range(n), F.theta_sketch_agg("id", 12))
    if n >= 2:
        assert img[1] == 4
    j = ds.theta.CompactSketch.heapify(_wrap(ds, img))
    got = theta.ThetaSketch.from_bytes(img)
    assert got.count == j.getRetainedEntries(True)
    assert int(got.theta) == j.getThetaLong()
    assert got.estimate() == j.getEstimate()
    uncompressed = theta_serde.from_java_bytes(bytes(j.toByteArray()))
    assert np.array_equal(got.hashes, uncompressed.hashes)


def test_engine_exact_theta_image_is_byte_equal_to_jvm(spark, ds):
    img = _one(spark.range(1_000), F.theta_sketch_agg("id", 12))
    j = ds.theta.CompactSketch.heapify(_wrap(ds, img))
    assert theta.sketch_longs(np.arange(1_000), 12).to_bytes() == \
        bytes(j.toByteArray())


@pytest.mark.parametrize("dtype", ["tinyint", "int", "bigint", "double"])
def test_builtin_theta_hashes_numbers_like_engine(spark, dtype):
    """Integral columns hash as update(long), DOUBLE as update(double)
    (canonical bits: -0.0 == 0.0, one NaN)."""
    from datasketches_java_spark.functions import sketch_aggs as A
    if dtype == "double":
        vals = np.array([1.5, 1.7, -0.0, 0.0, 2.25, float("nan"), 1e300])
        want = theta.sketch_doubles(vals, 12)
    else:
        vals = np.arange(-60, 60)
        want = theta.sketch_longs(vals, 12)
    df = spark.createDataFrame([(v.item(),) for v in vals], f"v {dtype}")
    img = A.theta_sketch_agg(df, "v").first()[0]
    assert np.array_equal(theta.ThetaSketch.from_bytes(img).hashes, want.hashes)


def test_exact_sketches_stay_exact_through_pair_set_ops(spark):
    """The built-in pairwise union takes its nominal size (default lgK
    12); at the inputs' lg_k a union of exact sketches stays exact."""
    from datasketches_java_spark.functions import sketch_aggs as A
    a = A.theta_sketch_agg(spark.range(0, 15_000), "id", lg_k=16)
    b = A.theta_sketch_agg(spark.range(5_000, 20_000), "id", lg_k=16)
    row = (a.withColumnRenamed("theta_sketch", "a")
           .crossJoin(b.withColumnRenamed("theta_sketch", "b"))
           .select(F.theta_sketch_estimate(F.theta_union("a", "b", 16)).alias("u"),
                   F.theta_sketch_estimate(F.theta_intersection("a", "b")).alias("i"),
                   F.theta_sketch_estimate(F.theta_difference("a", "b")).alias("d"))
           .first())
    assert (row.u, row.i, row.d) == (20_000.0, 10_000.0, 5_000.0)


def test_engine_images_feed_the_builtin_union(spark):
    from datasketches_java_spark.functions import sketch_aggs as A
    parts = [theta.sketch_longs(np.arange(i * 300, i * 300 + 500), 12)
             for i in range(4)]
    df = spark.createDataFrame([(bytearray(p.to_bytes()),) for p in parts],
                               "theta_sketch binary")
    est = (A.theta_union_agg(df)
           .select(F.theta_sketch_estimate("theta_sketch")).first()[0])
    assert est == theta.union_many(parts).estimate() == 1_400.0


def test_legacy_image_in_builtin_union_raises(spark):
    """The built-in union rejects the engine's retired private image
    (``tests/golden/theta_exact.sk``) with an error, never a number;
    ``theta_to_java`` is the one-time upgrade."""
    import os

    from pyspark.errors import PySparkException

    from datasketches_java_spark.functions import sketch_aggs as A
    with open(os.path.join(os.path.dirname(__file__), "golden",
                           "theta_exact.sk"), "rb") as f:
        img = f.read()
    df = spark.createDataFrame([(bytearray(img),)], "theta_sketch binary")
    with pytest.raises(PySparkException,
                       match="THETA_INVALID_INPUT_SKETCH_BUFFER"):
        A.theta_union_agg(df).collect()
    upgraded = df.select(A.theta_to_java("theta_sketch").alias("theta_sketch"))
    est = A.theta_union_agg(upgraded).select(
        F.theta_sketch_estimate("theta_sketch")).first()[0]
    assert est == 1000.0


# -- built-in scalars vs the engine's cores ----------------------------------

@pytest.mark.parametrize("mode", ["exact", "estimation"])
def test_builtin_scalars_match_engine_cores(spark, ds, mode):
    """On engine images, Spark's built-in scalars — directly and through
    the SQL registry's aliases — give the engine cores' answers: the
    theta estimate, union at the registry's lg_k, intersection and
    difference; KLL quantiles, ranks, n, and the exact min and max at
    ranks 0 and 1.  The HLL estimate is the JVM's, rounded, and the
    engine's composite estimate lies inside the JVM's bounds.  The
    estimate is BIGINT, and a NULL image gives NULL."""
    from datasketches_java_spark.config import DEFAULT_LG_K
    from datasketches_java_spark.functions.sql_registry import (
        register_sql_functions)
    n, kll_n = (3_000, 150) if mode == "exact" else (30_000, 50_000)
    a = theta.sketch_longs(np.arange(n), DEFAULT_LG_K)
    b = theta.sketch_longs(np.arange(n // 3, n + n // 3), DEFAULT_LG_K)
    assert a.is_estimation_mode == (mode == "estimation")
    x = np.random.default_rng(5).standard_normal(kll_n)
    kll = KllDoublesSketch.new(200).update_batch(x)
    h = hll.sketch_longs(np.arange(n), 12)
    values = [float(v) for v in x[:5]] + [-10.0, 0.0, 10.0]

    def doubles(xs):
        return f"array({', '.join(f'{v!r}D' for v in xs)})"

    register_sql_functions(spark)
    spark.createDataFrame(
        [(0, *(bytearray(s.to_bytes()) for s in (a, b, kll, h))),
         (1, None, None, None, None)],
        "id int, a binary, b binary, k binary, h binary",
    ).createOrReplaceTempView("engine_images")
    got, null = spark.sql(f"""
        SELECT theta_sketch_estimate(a) est,
               typeof(theta_sketch_estimate(a)) est_type,
               theta_sketch_union_pair(a, b) u,
               theta_sketch_estimate(theta_sketch_union_pair(a, b)) u_est,
               theta_sketch_intersect(a, b) i,
               theta_sketch_estimate(theta_sketch_intersect(a, b)) i_est,
               theta_sketch_a_not_b(a, b) d,
               theta_sketch_estimate(theta_sketch_a_not_b(a, b)) d_est,
               hll_sketch_estimate(h) hll,
               kll_sketch_n(k) n, kll_sketch_min(k) lo, kll_sketch_max(k) hi,
               kll_sketch_get_quantile_double(k, {doubles(INTERIOR_RANKS)}) qs,
               kll_sketch_get_rank_double(k, {doubles(values)}) rs
        FROM engine_images ORDER BY id""").collect()

    def rounded(e: float) -> int:
        return math.floor(e + 0.5)

    assert got.est_type == null.est_type == "bigint"
    assert got.est == rounded(a.estimate())
    for col, want in (("u", theta.union_many([a, b], DEFAULT_LG_K)),
                      ("i", theta.intersect(a, b)), ("d", theta.a_not_b(a, b))):
        img = theta.ThetaSketch.from_bytes(bytes(got[col]))
        assert (img.theta, img.hashes.tolist()) == (want.theta, want.hashes.tolist())
        assert got[f"{col}_est"] == rounded(want.estimate())
    j = ds.hll.HllSketch.heapify(_wrap(ds, h.to_bytes()))
    assert got.hll == rounded(j.getEstimate())
    assert j.getLowerBound(1) <= h.estimate() <= j.getUpperBound(1)
    assert (got.n, got.lo, got.hi) == (kll_n, x.min(), x.max()) == \
        (kll.n, kll.min_value, kll.max_value)
    assert got.qs == kll.quantiles(list(INTERIOR_RANKS))
    assert got.rs == [kll.rank(v) for v in values]
    assert all(v is None for k, v in null.asDict().items() if k != "est_type")
