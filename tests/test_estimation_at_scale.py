"""Estimation-mode behavior at sf0.1 — the scale class the sf0.01
oracle gate cannot see (round-5 sweep findings, BENCH.md round 5).

The oracle gate keeps sketches in exact mode by deriving lgK/k from
the SF (__spark_entry__._exact_lg_k); THESE tests pin the complement:
the same aggregations at fixed small parameters, deep in estimation
mode / past purge cycles on the sf0.1 tables, asserted against the
reference's analytic error envelopes (the BASELINE.md convention).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.1"


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet").cache()


def test_theta_estimation_mode_bounds(spark, orders):
    """lgK=12 over 150k distinct orderkeys — 36x past exact mode.
    Exact count must sit inside the 2σ binomial bounds and within
    4 RSE of the estimate (RSE = 1/sqrt(k-1) ≈ 1.56%)."""
    from datasketches_java_spark.functions.sketch_aggs import (
        theta_sketch_agg)
    from datasketches_java_spark.sketches.theta import ThetaSketch
    img = theta_sketch_agg(orders, "o_orderkey", lg_k=12).first()[0]
    sk = ThetaSketch.from_bytes(bytes(img))
    n = orders.count()
    assert sk.is_estimation_mode, "sketch unexpectedly still exact"
    lb, ub = sk.bounds(2)
    assert lb <= n <= ub
    assert abs(sk.estimate() - n) / n < 4 / np.sqrt(4096 - 1)


def test_theta_union_estimation_bounds(spark, orders):
    """Union of two estimation-mode halves vs exact distinct custkeys:
    the ≤5% @ lgK=12 envelope (BASELINE.md convention)."""
    from datasketches_java_spark.functions.sketch_aggs import (
        theta_sketch_agg)
    from datasketches_java_spark.sketches import theta
    a = theta_sketch_agg(
        orders.filter(F.col("o_orderdate") < F.lit("1998-01-01")),
        "o_custkey", lg_k=12).first()[0]
    b = theta_sketch_agg(
        orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01")),
        "o_custkey", lg_k=12).first()[0]
    u = theta.union(theta.ThetaSketch.from_bytes(bytes(a)),
                    theta.ThetaSketch.from_bytes(bytes(b)))
    exact = orders.select("o_custkey").distinct().count()
    assert abs(u.estimate() - exact) / exact < 0.05


def test_kll_items_estimation_rank_error(spark):
    """String-items KLL at k=256 over 15k names (deep past exact
    mode): the returned median's TRUE rank must be within 3x the
    documented rank-error model eps(k) = 2.296/k^0.9723."""
    from datasketches_java_spark.functions.sketch_aggs import (
        kll_items_quantiles, kll_items_sketch_agg)
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    sk = kll_items_sketch_agg(cust, "c_name", k=256, dtype="string")
    q50 = sk.select(
        kll_items_quantiles([0.5], "string")("kll_items_sketch")[0]
        .alias("q")).first()["q"]
    true_rank = (cust.filter(F.col("c_name") <= q50).count()
                 / cust.count())
    eps = 2.296 / 256 ** 0.9723
    assert abs(true_rank - 0.5) < 3 * eps, (q50, true_rank, eps)


def test_freq_purge_cycles_bounds(spark):
    """Frequent-items tracking 64 items over 600k lineitem rows and
    1,000 distinct suppliers — hundreds of purge cycles.  Every
    reported estimate must obey est-eps*N <= true <= est with
    eps = 3.5/M (frequencies/ItemsSketch.java error model), and the
    NO_FALSE_NEGATIVES view must cover every true heavy hitter.  The
    sketch is the one ``freq_sketch_agg`` builds, at 64 tracked items
    instead of its 1,024."""
    from datasketches_java_spark.sketches.frequencies import ItemsSketch
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    img = li.agg(F.call_function(
        "approx_top_k_accumulate", F.col("l_suppkey").cast("string"),
        F.lit(64)).getField("sketch")).first()[0]
    sk = ItemsSketch.from_bytes(bytes(img))
    n = li.count()
    eps = 3.5 / 64
    true = {r[0]: r[1] for r in
            li.groupBy("l_suppkey").count().collect()}
    for item, est, lb, ub in sk.frequent_items(0, "NO_FALSE_POSITIVES"):
        t = true[int(item)]
        assert lb <= t <= ub, (item, t, lb, ub)
        assert est - eps * n <= t <= est
    # every item above the eps*N waterline must appear in the
    # no-false-negatives view
    nfn = {int(i) for i, *_ in sk.frequent_items(0, "NO_FALSE_NEGATIVES")}
    for k_, t in true.items():
        if t > eps * n:
            assert k_ in nfn


def test_simhash_containment_at_sf01(spark):
    """sf0.1 recall finding pinned (round-5 sweep): the Hamming-12
    ball recalls 253 of the 255 J>=0.8 pairs — the CONTAINMENT
    invariant (every emitted pair is a true J>=0.8 pair) must hold
    exactly, and recall must stay >= 0.97 at this scale."""
    import __spark_entry__ as entry
    simhash = {(r.doc_a, r.doc_b) for r in
               entry.queries()["simhash_near_pairs"](spark, SF).collect()}
    exact = {(r.doc_a, r.doc_b) for r in
             entry.queries()["lsh_dup_pairs_documents"](spark, SF)
             .select("doc_a", "doc_b").collect()}
    assert simhash <= exact, "containment violated: false positives"
    assert len(simhash) / len(exact) >= 0.97
