"""Column-level wire UDFs added for the documented API surface
(README quickstarts): hll_to_java (all three target types) and
kll_to_java — estimates/quantiles must survive the rewrite unchanged,
and the built-in scalars read the written images."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet("/root/testdata/sf0.001/orders.parquet")


@pytest.mark.parametrize("tgt", ["hll4", "hll6", "hll8"])
def test_hll_wire_udf_roundtrip(spark, orders, tgt):
    from datasketches_java_spark.functions import sketch_aggs as A
    sk = A.hll_sketch_agg(orders, "o_custkey", lg_k=11)
    from datasketches_java_spark.sketches import hll
    direct = hll.HllSketch.from_bytes(sk.first()[0]).estimate()
    via = sk.select(
        A.hll_to_java(tgt)("hll_sketch").alias("img"),
        F.hll_sketch_estimate(A.hll_to_java(tgt)("hll_sketch")).alias("jvm"),
        F.hll_sketch_estimate(A.hll_to_java("hll8")("hll_sketch")).alias("jvm8"),
    ).first()
    assert hll.HllSketch.from_bytes(via.img).estimate() == direct
    # the JVM reads all three target types to one estimate
    assert via.jvm == via.jvm8


def test_kll_wire_udf_roundtrip(spark, orders):
    from datasketches_java_spark.functions import sketch_aggs as A
    # the built-in KLL compacts with random offsets, so build the image
    # once and compare the two reads of that one image
    sk = spark.createDataFrame(
        A.kll_sketch_agg(orders, "o_totalprice", k=200).collect())
    def q(c):
        return F.kll_sketch_get_quantile_double(c, F.array(*map(F.lit, [0.25, 0.5, 0.75])))
    direct = sk.select(q("kll_sketch").alias("q")).collect()
    via = (sk.select(A.kll_to_java("kll_sketch").alias("kll_sketch"))
           .select(q("kll_sketch").alias("q")).collect())
    assert via[0].q == direct[0].q
