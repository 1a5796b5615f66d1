"""Column-level wire UDFs added for the documented API surface
(README quickstarts): hll_to_java (all three target types),
hll_from_java, kll_to_java/kll_from_java — estimates/quantiles must
survive the roundtrip unchanged."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet("/root/testdata/sf0.001/orders.parquet")


@pytest.mark.parametrize("tgt", ["hll4", "hll6", "hll8"])
def test_hll_wire_udf_roundtrip(spark, orders, tgt):
    from datasketches_java_spark.functions import sketch_aggs as A
    sk = A.hll_sketch_agg(orders, "o_custkey", lg_k=11)
    direct = sk.select(A.hll_estimate("hll_sketch").alias("e")).collect()
    via = (sk.select(A.hll_from_java(A.hll_to_java(tgt)("hll_sketch"))
                     .alias("hll_sketch"))
           .select(A.hll_estimate("hll_sketch").alias("e")).collect())
    assert via[0].e == direct[0].e


def test_kll_wire_udf_roundtrip(spark, orders):
    from datasketches_java_spark.functions import sketch_aggs as A
    # the built-in KLL compacts with random offsets, so build the image
    # once and compare the two reads of that one image
    sk = spark.createDataFrame(
        A.kll_sketch_agg(orders, "o_totalprice", k=200).collect())
    q = A.kll_quantiles([0.25, 0.5, 0.75])
    direct = sk.select(q("kll_sketch").alias("q")).collect()
    via = (sk.select(A.kll_from_java(A.kll_to_java("kll_sketch"))
                     .alias("kll_sketch"))
           .select(q("kll_sketch").alias("q")).collect())
    assert via[0].q == direct[0].q
