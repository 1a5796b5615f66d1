"""SQL surface: register the sketch library for pure ``spark.sql()``.

The reference library's reason for existence is serving SQL engines
(the Hive/Pig adaptors, reference README.md:31).  This registry gives
the Spark engine the same entry point::

    from datasketches_java_spark.functions.sql_registry import (
        register_sql_functions)
    register_sql_functions(spark)
    spark.sql('''
        SELECT c_nationkey,
               theta_sketch_estimate(theta_sketch_build(c_custkey))
                   AS distinct_customers
        FROM customer GROUP BY c_nationkey ORDER BY c_nationkey''')

SCALE BOUNDARY — read before using the *_build aggregates at 100 TB:
Spark cannot express partial aggregation for Python UDAFs, so a
registered GROUPED_AGG UDF ships RAW VALUES to the reducer
(``AggregateInPandasExec`` has no map-side combine).  Results are
identical at any scale, but shuffle volume is O(rows).  The DataFrame
builds in ``functions/sketch_aggs.py`` are the scale path for BUILDING
sketches: theta, HLL, KLL and frequent items there are Spark's built-in
DataSketches aggregates (map-side partial aggregation, no Python
worker), the other families two-phase aggregates with O(groups x
partitions x sketch_size) shuffle.  In SQL text the same built-ins are
available directly, and their images are what the scalars read::

    SELECT c_nationkey, theta_sketch_estimate(theta_sketch_agg(c_custkey, 12))
    FROM customer GROUP BY c_nationkey

    SELECT kll_sketch_get_quantile_double(kll_sketch_agg_double(c_acctbal), 0.5),
           hll_sketch_estimate(hll_sketch_agg(c_custkey))
    FROM customer

    SELECT frequent_strings_sketch_result(
               approx_top_k_accumulate(o_orderpriority, 1024).sketch, 0)
    FROM orders

``frequent_strings_sketch_build`` writes the same string ItemsSketch
image as ``approx_top_k_accumulate(...).sketch``, without the 8 bytes
Spark appends, so Spark's ``approx_top_k_estimate`` does not read it.

Two SQL patterns carry no penalty:

- QUERYING sketch images.  ``theta_sketch_estimate`` and
  ``hll_sketch_estimate`` are Spark's built-ins (BIGINT, the estimate
  rounded); the pairwise set ops and ``kll_sketch_n/min/max`` are SQL
  functions over the built-ins (``theta_union`` at the registry's
  ``lg_k``, ``theta_intersection``, ``theta_difference``,
  ``kll_sketch_get_n_double``, ``kll_sketch_get_quantile_double`` at
  rank 0 and 1), so no Python worker runs.  Bounds, Jaccard, CPC and
  frequent-items results, and ``kll_sketch_quantile``/``kll_sketch_rank``
  (per-row ranks, which the built-in rejects as non-foldable) are
  Arrow-batched Python UDFs.
- MERGING sketch images (``theta_sketch_union``, ``hll_sketch_union``,
  ...): the input rows are already bounded-size partials (e.g. from a
  checkpoint or a two-phase build), so the raw-value shuffle IS the
  sketch-image shuffle.

Function names follow the reference's Hive adaptor convention
(``<family>_sketch_<verb>``) so a user migrating SQL text recognizes
the surface.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession, functions as F, types as T

from ..config import (
    DEFAULT_LG_K,
    DEFAULT_UPDATE_SEED,
    FREQ_DEFAULT_MAX_MAP_SIZE,
    HLL_DEFAULT_LG_K,
    KLL_DEFAULT_K,
)
from ..sketches import cpc, hll, theta
from ..sketches.frequencies import ItemsSketch
from ..sketches.hash_adaptors import canonical_double_bits
from ..sketches.kll import KllDoublesSketch
from . import sketch_aggs as A
from .sketch_aggs import _utf8_flat


def _update_keys(arr: pa.Array):
    """What the reference's update() overloads hash, from a column's
    Arrow type (theta/UpdateSketch.java:220-271): ('bytes', flat
    buffer triple) for STRING and BINARY, empty values rejected; else
    ('long', int64 keys) — integral values as update(long), FLOAT and
    DOUBLE values as update(double)'s canonical bits, so SQL-built
    sketches stay hash-equal to the DataFrame and reference sketches
    of the same items.  NULLs are dropped."""
    arr = arr.drop_null()
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t) or \
            pa.types.is_binary(t) or pa.types.is_large_binary(t):
        arr = arr.filter(pc.greater(pc.binary_length(arr), 0))
        return "bytes", _utf8_flat(arr)
    if pa.types.is_floating(t):
        return "long", canonical_double_bits(arr.to_numpy(zero_copy_only=False))
    return "long", arr.to_numpy(zero_copy_only=False).astype(np.int64)


def _theta_build(arr: pa.Array, lg_k: int) -> bytes:
    from ..sketches.murmur3 import theta_hash_bytes_batch
    kind, keys = _update_keys(arr)
    if kind == "bytes":
        uh = theta_hash_bytes_batch(*keys, DEFAULT_UPDATE_SEED)
        return theta.from_update_hashes(uh, lg_k).to_bytes()
    return theta.sketch_longs(keys, lg_k).to_bytes()


def _hll_build(arr: pa.Array, lg_k: int) -> bytes:
    from ..sketches.murmur3 import hash128_bytes_batch
    kind, keys = _update_keys(arr)
    if kind == "bytes":
        h1, h2 = hash128_bytes_batch(*keys, DEFAULT_UPDATE_SEED)
        return hll.from_hash_pair(h1, h2, lg_k).to_bytes()
    return hll.sketch_longs(keys, lg_k).to_bytes()


def _cpc_build(arr: pa.Array) -> bytes:
    from ..sketches.murmur3 import hash128_bytes_batch
    kind, keys = _update_keys(arr)
    if kind == "bytes":
        h0, h1 = hash128_bytes_batch(*keys, DEFAULT_UPDATE_SEED)
        return cpc.from_hash_pair(h0, h1, cpc.DEFAULT_CPC_LG_K).to_bytes()
    return cpc.sketch_longs(keys).to_bytes()


def _null_safe(f):
    """f(image, arg) per row, NULL where the image or the argument is."""
    def rows(imgs: pd.Series, args: pd.Series) -> pd.Series:
        return pd.Series([None if b is None or pd.isna(x) else f(b, x)
                          for b, x in zip(imgs, args)], dtype=object)
    return rows


def register_sql_functions(spark: SparkSession,
                           lg_k: int = DEFAULT_LG_K) -> list[str]:
    """Register the sketch SQL functions on ``spark``; returns the
    registered names.  The theta ``lg_k`` binds at registration — one
    registry per config, matching the Hive adaptor model where the
    UDAF instance owns its parameters; HLL, KLL and frequent items use
    ``HLL_DEFAULT_LG_K``, ``KLL_DEFAULT_K`` and
    ``FREQ_DEFAULT_MAX_MAP_SIZE``.  Every build hashes with the
    default seed, the only one Spark's built-in scalars accept.
    ``theta_sketch_estimate`` and ``hll_sketch_estimate`` are Spark's
    own functions and are not registered."""

    # -- aggregates (GROUPED_AGG; see module docstring scale note).
    # The *_build ones are Arrow UDFs: they dispatch on the column's
    # Arrow type, which pandas would lose (an integer column with NULLs
    # arrives as float64).
    @F.arrow_udf(T.BinaryType())
    def theta_sketch_build(v: pa.Array) -> bytes:
        return _theta_build(v, lg_k)

    @F.pandas_udf(T.BinaryType(), F.PandasUDFType.GROUPED_AGG)
    def theta_sketch_union(imgs: pd.Series) -> bytes:
        sks = [theta.ThetaSketch.from_bytes(b) for b in imgs.dropna()]
        if not sks:   # all-NULL group (e.g. outer-join side) -> empty
            return theta.empty(lg_k).to_bytes()
        return theta.union_many(sks, lg_k).to_bytes()

    @F.arrow_udf(T.BinaryType())
    def hll_sketch_build(v: pa.Array) -> bytes:
        return _hll_build(v, HLL_DEFAULT_LG_K)

    @F.pandas_udf(T.BinaryType(), F.PandasUDFType.GROUPED_AGG)
    def hll_sketch_union(imgs: pd.Series) -> bytes:
        sks = [hll.HllSketch.from_bytes(b) for b in imgs.dropna()]
        if not sks:
            return hll.empty(HLL_DEFAULT_LG_K).to_bytes()
        return hll.union_many(sks).to_bytes()

    @F.arrow_udf(T.BinaryType())
    def cpc_sketch_build(v: pa.Array) -> bytes:
        return _cpc_build(v)

    @F.pandas_udf(T.BinaryType(), F.PandasUDFType.GROUPED_AGG)
    def kll_sketch_build(v: pd.Series) -> bytes:
        return KllDoublesSketch.new(KLL_DEFAULT_K).update_batch(
            v.dropna().to_numpy().astype(np.float64)).to_bytes()

    @F.pandas_udf(T.BinaryType(), F.PandasUDFType.GROUPED_AGG)
    def kll_sketch_merge(imgs: pd.Series) -> bytes:
        out = KllDoublesSketch.new(KLL_DEFAULT_K)
        for b in imgs.dropna():
            out.merge(KllDoublesSketch.from_bytes(b))
        return out.to_bytes()

    @F.pandas_udf(T.BinaryType(), F.PandasUDFType.GROUPED_AGG)
    def frequent_strings_sketch_build(v: pd.Series) -> bytes:
        return ItemsSketch(FREQ_DEFAULT_MAX_MAP_SIZE).update_batch(
            v.dropna().tolist()).to_bytes()

    # -- scalars: parameterized query functions (image, arg) ----------
    @F.pandas_udf(T.DoubleType())
    def kll_sketch_quantile(imgs: pd.Series, rank: pd.Series) -> pd.Series:
        return _null_safe(lambda b, r: KllDoublesSketch.from_bytes(b)
                          .quantile(float(r)))(imgs, rank)

    @F.pandas_udf(T.DoubleType())
    def kll_sketch_rank(imgs: pd.Series, x: pd.Series) -> pd.Series:
        return _null_safe(lambda b, v: KllDoublesSketch.from_bytes(b)
                          .rank(float(v)))(imgs, x)

    @F.pandas_udf(T.DoubleType())
    def cpc_sketch_estimate(imgs: pd.Series) -> pd.Series:
        return imgs.map(lambda b: cpc.CpcSketch.from_bytes(b).estimate())

    @F.pandas_udf(T.ArrayType(T.StructType([
        T.StructField("item", T.StringType()),
        T.StructField("estimate", T.LongType())])))
    def frequent_strings_sketch_result(imgs: pd.Series,
                                       threshold: pd.Series) -> pd.Series:
        return _null_safe(lambda b, t: [
            (it, int(est)) for it, est, _, _ in
            ItemsSketch.from_bytes(b).frequent_items(
                threshold=int(t), error_type="NO_FALSE_POSITIVES")])(
            imgs, threshold)

    fns = {
        "theta_sketch_build": theta_sketch_build,
        "theta_sketch_union": theta_sketch_union,
        "theta_sketch_lower_bound": A.theta_lower_bound,
        "theta_sketch_upper_bound": A.theta_upper_bound,
        "theta_sketch_jaccard": A.theta_jaccard_pair,
        "theta_sketch_to_java": A.theta_to_java,
        "hll_sketch_build": hll_sketch_build,
        "hll_sketch_union": hll_sketch_union,
        "cpc_sketch_build": cpc_sketch_build,
        "cpc_sketch_estimate": cpc_sketch_estimate,
        "kll_sketch_build": kll_sketch_build,
        "kll_sketch_merge": kll_sketch_merge,
        "kll_sketch_quantile": kll_sketch_quantile,
        "kll_sketch_rank": kll_sketch_rank,
        "frequent_strings_sketch_build": frequent_strings_sketch_build,
        "frequent_strings_sketch_result": frequent_strings_sketch_result,
    }
    for name, fn in fns.items():
        spark.udf.register(name, fn)

    # -- scalars that are one built-in call: SQL functions, no Python
    pair, one = "a BINARY, b BINARY", "sk BINARY"
    sql_fns = {
        "theta_sketch_union_pair": (pair, f"theta_union(a, b, {lg_k})"),
        "theta_sketch_intersect": (pair, "theta_intersection(a, b)"),
        "theta_sketch_a_not_b": (pair, "theta_difference(a, b)"),
        "kll_sketch_n": (one, "kll_sketch_get_n_double(sk)"),
        "kll_sketch_min": (one, "kll_sketch_get_quantile_double(sk, 0.0D)"),
        "kll_sketch_max": (one, "kll_sketch_get_quantile_double(sk, 1.0D)"),
    }
    for name, (params, body) in sql_fns.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params}) "
                  f"RETURN {body}")
    return sorted([*fns, *sql_fns])
