"""Spark two-phase sketch aggregations vs exact answers (SURVEY.md §3.2:
partial=update, merge=union — the reference's distributed-merge contract
exercised through real shuffles)."""

import pyspark.sql.functions as F
import pytest

from datasketches_java_spark.functions import sketch_aggs as SA
from tests.conftest import SF_TINY


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_TINY}/lineitem.parquet").cache()


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF_TINY}/orders.parquet").cache()


def test_theta_exact_mode_global(spark, lineitem):
    exact = lineitem.select("l_orderkey").distinct().count()
    out = SA.theta_sketch_agg(lineitem, "l_orderkey", lg_k=16)
    got = out.select(F.theta_sketch_estimate("theta_sketch").alias("est")).collect()[0]["est"]
    assert got == float(exact)


def test_theta_estimation_mode_grouped(spark, lineitem):
    out = SA.theta_sketch_agg(lineitem, "l_partkey", by=["l_returnflag"], lg_k=12)
    got = {r["l_returnflag"]: r["est"] for r in
           out.select("l_returnflag", F.theta_sketch_estimate("theta_sketch").alias("est")).collect()}
    exact = {r["l_returnflag"]: r["c"] for r in
             lineitem.groupBy("l_returnflag")
             .agg(F.countDistinct("l_partkey").alias("c")).collect()}
    assert set(got) == set(exact)
    for k, e in exact.items():
        assert abs(got[k] - e) / e < 0.05, k


def test_theta_set_ops_pairwise(spark, orders):
    a = SA.theta_sketch_agg(orders.filter(F.col("o_orderstatus") == "F"),
                            "o_custkey", lg_k=16).withColumnRenamed("theta_sketch", "ska")
    b = SA.theta_sketch_agg(orders.filter(F.col("o_orderstatus") == "O"),
                            "o_custkey", lg_k=16).withColumnRenamed("theta_sketch", "skb")
    row = (a.crossJoin(b)
           .select(F.theta_sketch_estimate(F.theta_intersection("ska", "skb")).alias("inter"),
                   F.theta_sketch_estimate(F.theta_difference("ska", "skb")).alias("diff"),
                   SA.theta_jaccard_pair("ska", "skb").alias("jac"))
           .collect()[0])
    fa = {r[0] for r in orders.filter("o_orderstatus = 'F'").select("o_custkey").collect()}
    ob = {r[0] for r in orders.filter("o_orderstatus = 'O'").select("o_custkey").collect()}
    assert row["inter"] == float(len(fa & ob))
    assert row["diff"] == float(len(fa - ob))
    assert row["jac"] == pytest.approx(len(fa & ob) / len(fa | ob))


def test_hll_grouped(spark, lineitem):
    out = SA.hll_sketch_agg(lineitem, "l_orderkey", by=["l_linestatus"])
    got = {r["l_linestatus"]: r["est"] for r in
           out.select("l_linestatus", F.hll_sketch_estimate("hll_sketch").alias("est")).collect()}
    exact = {r["l_linestatus"]: r["c"] for r in
             lineitem.groupBy("l_linestatus")
             .agg(F.countDistinct("l_orderkey").alias("c")).collect()}
    for k, e in exact.items():
        assert abs(got[k] - e) / e < 0.06, (k, got[k], e)


def test_kll_quantiles(spark, lineitem):
    out = SA.kll_sketch_agg(lineitem, "l_extendedprice", k=200)
    row = out.select(
        F.kll_sketch_get_quantile_double("kll_sketch", F.lit(0.5)).alias("p50"),
        F.kll_sketch_get_n_double("kll_sketch").alias("n")).collect()[0]
    n = lineitem.count()
    assert row["n"] == n
    prices = [r[0] for r in lineitem.select("l_extendedprice").collect()]
    true_rank = sum(1 for p in prices if p <= row["p50"]) / n
    assert abs(true_rank - 0.5) < 0.04


def test_freq_exact_mode(spark, orders):
    out = SA.freq_sketch_agg(orders.withColumn("ck", F.col("o_custkey").cast("string")),
                             "ck")
    items = out.select(F.explode(SA.freq_items(5)("freq_sketch")).alias("it")) \
        .select("it.item", "it.estimate").collect()
    exact = {str(r["o_custkey"]): r["c"] for r in
             orders.groupBy("o_custkey").agg(F.count("*").alias("c"))
             .filter("c >= 5").collect()}
    got = {r["item"]: r["estimate"] for r in items}
    assert got == exact


def test_reservoir_and_priority(spark, lineitem):
    res = SA.reservoir_agg(lineitem, "l_orderkey", k=256)
    n = res.select(SA.reservoir_n("reservoir_sketch").alias("n")).collect()[0]["n"]
    assert n == lineitem.count()
    ps = SA.priority_sample_agg(lineitem, "l_orderkey", "l_quantity", k=512)
    assert ps.count() == 1


def test_theta_string_agg_reference_hash_path(spark):
    """String columns go through the batch murmur3 UTF-8 path — the
    resulting sketch retains EXACTLY the hashes the reference's
    update(String) would produce (scalar parity path), and the
    estimate is exact below k."""
    import numpy as np
    from datasketches_java_spark.functions.sketch_aggs import theta_sketch_agg
    from datasketches_java_spark.sketches.murmur3 import theta_hash_str
    from datasketches_java_spark.sketches.theta import ThetaSketch
    words = [f"wörd-{i % 600}" for i in range(5000)] + ["", None]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    sk_rows = theta_sketch_agg(df, "s", lg_k=12).collect()
    img = sk_rows[0]["theta_sketch"]
    sk = ThetaSketch.from_bytes(img)
    want = np.unique(np.array(
        [theta_hash_str(f"wörd-{i}", 9001) for i in range(600)],
        dtype=np.uint64))
    assert np.array_equal(sk.hashes, want)
    est = spark.createDataFrame([(img,)], "theta_sketch binary").select(
        F.theta_sketch_estimate("theta_sketch")).collect()[0][0]
    assert round(est) == 600


def test_hll_string_agg(spark):
    from datasketches_java_spark.functions.sketch_aggs import hll_sketch_agg
    words = [f"token{i % 300}" for i in range(3000)]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    est = hll_sketch_agg(df, "s").select(
        F.hll_sketch_estimate("hll_sketch")).collect()[0][0]
    # linear-counting range at n/m ~ 0.07 carries a few-% estimator
    # noise; exactness is only expected at tiny n (the oracle queries)
    assert abs(est - 300) / 300 < 0.05
