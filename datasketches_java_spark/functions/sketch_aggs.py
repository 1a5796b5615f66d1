"""Sketch aggregation over DataFrames.

Every aggregate keeps the reference's update/merge split (SURVEY.md
§3.2): the map side builds one bounded-size sketch per grouping key
and partition, only those images cross the shuffle, and the reduce
side merges them (theta/UnionImpl.java:300).  Raw rows never shuffle,
so shuffle volume is O(#keys x #partitions x sketch_size),
independent of row count.

Two implementations of that shape:

- theta, HLL, KLL and frequent items use Spark's built-in DataSketches
  aggregates (``theta_sketch_agg``, ``theta_union_agg``,
  ``hll_sketch_agg``, ``kll_sketch_agg_double``,
  ``approx_top_k_accumulate``; datasketches-java in the JVM, map-side
  partial aggregation, no Python worker).  Their images are the
  reference's images (compact theta, HLL_8, compact KLL doubles, the
  string ItemsSketch), which the engine's ``sketches.theta``, ``hll``,
  ``kll`` and ``frequencies`` read and write.  Spark's built-in scalars
  read the first three too, so estimates, set operations and quantiles
  are plain column expressions: ``F.theta_sketch_estimate``,
  ``F.theta_union`` (pass the lgK), ``F.theta_intersection``,
  ``F.theta_difference``, ``F.hll_sketch_estimate``,
  ``F.kll_sketch_get_quantile_double`` (rank 0 and 1 give the exact min
  and max), ``F.kll_sketch_get_rank_double`` and
  ``F.kll_sketch_get_n_double``.  The UDFs below cover only what Spark
  lacks: bounds, Jaccard, frequent-item rows with their bounds, and the
  image normalisers.
- REQ, CPC, tuple and sampling, which Spark lacks, use ``_two_phase``:
  mapInPandas (partial) + groupBy().applyInPandas (final),
  Arrow-batched, no per-row Python.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..config import (
    DEFAULT_LG_K,
    DEFAULT_UPDATE_SEED,
    FREQ_DEFAULT_MAX_MAP_SIZE,
    HLL_DEFAULT_LG_K,
    KLL_DEFAULT_K,
)
from ..sketches import hll, theta
from ..sketches.frequencies import ItemsSketch
from ..sketches.kll import KllDoublesSketch
from ..sketches.sampling import PrioritySample, ReservoirSketch

_GLOBAL_KEY = "__ds_global__"


def _utf8_flat(strings):
    """pandas string Series or Arrow string/binary array → (flat uint8
    buffer, starts, lengths) via the Arrow string/binary layout — no
    per-row Python; feeds the batch murmur3 (same flat-buffer trick as
    minhash_flat)."""
    import pyarrow as pa
    a = strings if isinstance(strings, pa.Array) else pa.array(strings, pa.string())
    if len(a) == 0:
        return np.empty(0, np.uint8), np.empty(0, np.int64), np.empty(0, np.int64)
    large = pa.types.is_large_string(a.type) or pa.types.is_large_binary(a.type)
    bufs = a.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int64 if large else np.int32)[
        a.offset: a.offset + len(a) + 1].astype(np.int64)
    data = (np.frombuffer(bufs[2], dtype=np.uint8)
            if bufs[2] is not None else np.empty(0, np.uint8))
    return data, offsets[:-1], np.diff(offsets)


def _two_phase(df: DataFrame, by: list[str], value_cols: list[str],
               build: Callable[[pd.DataFrame], bytes],
               merge: Callable[[list[bytes]], bytes],
               out_col: str) -> DataFrame:
    """Generic partial(update)/final(merge) sketch aggregation."""
    group_cols = by or [_GLOBAL_KEY]
    if not by:
        df = df.withColumn(_GLOBAL_KEY, F.lit(0))
    df = df.select(*group_cols, *value_cols)

    key_fields = [df.schema[c] for c in group_cols]
    out_schema = T.StructType(key_fields + [T.StructField(out_col, T.BinaryType())])

    def partial(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for key, grp in pdf.groupby(group_cols, dropna=False, sort=False):
                key = key if isinstance(key, tuple) else (key,)
                rows.append((*key, build(grp)))
            yield pd.DataFrame(rows, columns=group_cols + [out_col])

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        img = merge(list(pdf[out_col]))
        return pdf.iloc[:1][group_cols].assign(**{out_col: [img]})

    partials = df.mapInPandas(partial, schema=out_schema)
    merged = partials.groupBy(*group_cols).applyInPandas(final, schema=out_schema)
    return merged.drop(_GLOBAL_KEY) if not by else merged


# ---------------------------------------------------------------------------
# theta, HLL and KLL: Spark's built-in DataSketches aggregates
# ---------------------------------------------------------------------------

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _native_input(df: DataFrame, col: str, agg: str,
                  accepted: tuple) -> F.Column:
    """``col`` as the built-in ``agg`` takes it: narrow integers widen
    to BIGINT (update(long), as the reference hashes them); a type the
    built-in rejects raises TypeError here, from the schema, before any
    plan is analysed."""
    dt = df.schema[col].dataType
    if not isinstance(dt, accepted):
        raise TypeError(f"{agg} takes {', '.join(t.typeName() for t in accepted)} "
                        f"columns, not {dt.simpleString()} ({col!r})")
    c = F.col(col)
    return c.cast("bigint") if isinstance(dt, (T.ByteType, T.ShortType)) else c


def theta_sketch_agg(df: DataFrame, col: str, by: list[str] | None = None,
                     lg_k: int = DEFAULT_LG_K) -> DataFrame:
    """groupBy(by).agg(theta_sketch(col)) -> by + theta_sketch:binary,
    with Spark's built-in ``theta_sketch_agg`` (datasketches-java
    UpdateSketch, map-side partial aggregation, no Python worker).

    Integral columns hash as update(long), DOUBLE and FLOAT columns as
    update(double) (canonical bits, theta.sketch_doubles), STRING
    columns their UTF-8 bytes and BINARY columns their raw bytes
    (theta/UpdateSketch.java:220-271; null and empty rejected), so the
    images are hash-equal to the engine's and the reference's sketches
    of the same items.  The image is the reference's compact image,
    serVer 4 (compressed) from two entries up.
    """
    c = _native_input(df, col, "theta_sketch_agg",
                      _INTEGRAL + (T.FloatType, T.DoubleType,
                                   T.StringType, T.BinaryType))
    return df.groupBy(*(by or [])).agg(
        F.theta_sketch_agg(c, lg_k).alias("theta_sketch"))


def theta_union_agg(df: DataFrame, sketch_col: str = "theta_sketch",
                    by: list[str] | None = None,
                    lg_k: int = DEFAULT_LG_K) -> DataFrame:
    """Merge an existing sketch column (checkpoint resume path) with
    Spark's built-in ``theta_union_agg``.  As in the reference's union,
    the nominal size ``lg_k`` is the union's own.  The engine's legacy
    private images are rejected (THETA_INVALID_INPUT_SKETCH_BUFFER);
    ``theta_to_java`` upgrades them once."""
    return df.groupBy(*(by or [])).agg(
        F.theta_union_agg(sketch_col, lg_k).alias(sketch_col))


@F.pandas_udf(T.BinaryType())
def theta_to_java(images: pd.Series) -> pd.Series:
    """Any readable theta image (reference serVer 1-4, or the engine's
    legacy private image) -> the reference serVer-3 compact-ordered
    image.  Run it once over an old ``theta_state`` table to upgrade
    it for the built-in scalars and union."""
    return images.map(lambda b: theta.ThetaSketch.from_bytes(b).to_bytes())


# Older names of three built-ins, kept for existing callers.  The
# built-in estimate is BIGINT: the estimate rounded.
theta_estimate = F.theta_sketch_estimate
theta_intersect_pair = F.theta_intersection
theta_a_not_b_pair = F.theta_difference


@F.pandas_udf(T.DoubleType())
def theta_lower_bound(images: pd.Series) -> pd.Series:
    """2-sigma lower confidence bound of a theta image column
    (thetacommon/BinomialBoundsN exact port)."""
    return images.map(lambda b: theta.ThetaSketch.from_bytes(b).bounds(2)[0])


@F.pandas_udf(T.DoubleType())
def theta_upper_bound(images: pd.Series) -> pd.Series:
    """2-sigma upper confidence bound of a theta image column."""
    return images.map(lambda b: theta.ThetaSketch.from_bytes(b).bounds(2)[1])


@F.pandas_udf(T.DoubleType())
def theta_jaccard_pair(a: pd.Series, b: pd.Series) -> pd.Series:
    """Jaccard estimate of two sketch images
    (theta/JaccardSimilarity.java:55)."""
    return pd.Series([
        theta.jaccard(theta.ThetaSketch.from_bytes(x), theta.ThetaSketch.from_bytes(y))[1]
        for x, y in zip(a, b)])


def hll_sketch_agg(df: DataFrame, col: str, by: list[str] | None = None,
                   lg_k: int = HLL_DEFAULT_LG_K) -> DataFrame:
    """groupBy(by).agg(hll_sketch(col)) -> by + hll_sketch:binary, with
    Spark's built-in ``hll_sketch_agg`` (the reference's HLL_8 image).
    Integral columns hash as update(long), STRING columns their UTF-8
    bytes and BINARY columns their raw bytes
    (hll/BaseHllSketch.java:292); the built-in takes no FLOAT or DOUBLE
    column, so those raise TypeError."""
    c = _native_input(df, col, "hll_sketch_agg",
                      _INTEGRAL + (T.StringType, T.BinaryType))
    return df.groupBy(*(by or [])).agg(
        F.hll_sketch_agg(c, lg_k).alias("hll_sketch"))


def hll_to_java(tgt_type: str = "hll8") -> Callable:
    """Any readable HLL image -> the reference HLL image at the chosen
    target type ('hll4' | 'hll6' | 'hll8'; hll/ToByteArrayImpl
    counterpart)."""
    if tgt_type not in ("hll4", "hll6", "hll8"):  # fail at call time,
        raise ValueError(f"tgt_type must be hll4/hll6/hll8: {tgt_type}")

    @F.pandas_udf(T.BinaryType())
    def enc(images: pd.Series) -> pd.Series:
        from ..sketches import hll_serde
        writer = {"hll4": hll_serde.to_java_bytes_hll4,
                  "hll6": hll_serde.to_java_bytes_hll6,
                  "hll8": hll_serde.to_java_bytes}[tgt_type]
        return images.map(lambda b: writer(hll.HllSketch.from_bytes(b)))
    return enc


def kll_sketch_agg(df: DataFrame, col: str, by: list[str] | None = None,
                   k: int = KLL_DEFAULT_K) -> DataFrame:
    """groupBy(by).agg(kll_sketch(col)) -> by + kll_sketch:binary, with
    Spark's built-in ``kll_sketch_agg_double`` over the column cast to
    DOUBLE (the reference's compact KLL doubles image)."""
    c = _native_input(df, col, "kll_sketch_agg", (T.NumericType,))
    return df.groupBy(*(by or [])).agg(
        F.kll_sketch_agg_double(c.cast("double"), k).alias("kll_sketch"))


def kll_items_sketch_agg(df: DataFrame, col: str,
                         by: list[str] | None = None,
                         k: int = KLL_DEFAULT_K,
                         dtype: str = "long") -> DataFrame:
    """Generic-item KLL (kll/KllLongsSketch.java dtype analogue;
    quantiles/ItemsSketch.java:70 comparator contract) over a long or
    string column — same two-phase update/merge shape as the doubles
    agg."""
    from ..sketches.kll_items import KllItemsSketch
    by = by or []

    def build(grp: pd.DataFrame) -> bytes:
        vals = grp[col].dropna()
        if dtype == "long":
            vals = vals.to_numpy().astype(np.int64)
        else:
            vals = vals.to_numpy(dtype=object)
        return KllItemsSketch.new(k, dtype).update_batch(vals).to_bytes()

    def merge(imgs: list[bytes]) -> bytes:
        out = KllItemsSketch.new(k, dtype)
        for b in imgs:
            out.merge(KllItemsSketch.from_bytes(b))
        return out.to_bytes()

    return _two_phase(df, by, [col], build, merge, "kll_items_sketch")


@F.pandas_udf(T.BinaryType())
def kll_to_java(images: pd.Series) -> pd.Series:
    """Any readable KLL doubles image (reference compact, or the
    engine's legacy private image) -> the reference compact doubles
    image, the one the built-in KLL scalars read.  Classic-quantiles
    images are read by kll_serde.classic_doubles_from_java_bytes."""
    return images.map(lambda b: KllDoublesSketch.from_bytes(b).to_bytes())


def kll_items_to_java(dtype: str = "long") -> Callable:
    """Engine KLL-items image → the reference's classic generic
    ItemsSketch wire format (quantiles/ItemsByteArrayImpl.java with
    ArrayOfLongsSerDe / ArrayOfStringsSerDe; exact-mode states).
    ``dtype`` is checked against the sketch so a wiring mistake fails
    loudly rather than silently encoding the other codec."""
    if dtype not in ("long", "string"):
        raise ValueError(f"dtype must be 'long' or 'string': {dtype}")

    @F.pandas_udf(T.BinaryType())
    def enc(images: pd.Series) -> pd.Series:
        from ..sketches.kll_items import (_DTYPE_LONG, _DTYPE_STRING,
                                          KllItemsSketch)
        from ..sketches.kll_serde import classic_items_to_java_bytes
        want = _DTYPE_LONG if dtype == "long" else _DTYPE_STRING

        def go(b: bytes) -> bytes:
            sk = KllItemsSketch.from_bytes(b)
            if sk.dtype_code != want:
                raise ValueError(
                    f"kll_items_to_java({dtype!r}) fed a sketch of the "
                    f"other item type")
            return classic_items_to_java_bytes(sk)
        return images.map(go)
    return enc


def kll_items_from_java(dtype: str = "long") -> Callable:
    """Reference classic generic ItemsSketch image → engine image."""
    @F.pandas_udf(T.BinaryType())
    def dec(images: pd.Series) -> pd.Series:
        from ..sketches.kll_serde import classic_items_from_java_bytes
        return images.map(
            lambda b: classic_items_from_java_bytes(b, dtype).to_bytes())
    return dec


def kll_items_quantiles(ranks: list[float], dtype: str = "long",
                        inclusive: bool = True) -> Callable:
    """Scalar UDF factory: quantiles at ``ranks`` from a generic-item
    KLL image column of the given dtype ('long' | 'string')."""
    elem = T.LongType() if dtype == "long" else T.StringType()

    @F.pandas_udf(T.ArrayType(elem))
    def qs(images: pd.Series) -> pd.Series:
        from ..sketches.kll_items import KllItemsSketch
        return images.map(
            lambda b: KllItemsSketch.from_bytes(b).quantiles(ranks, inclusive))
    return qs


# ---------------------------------------------------------------------------
# REQ (relative-error quantiles)
# ---------------------------------------------------------------------------

def req_sketch_agg(df: DataFrame, col: str, by: list[str] | None = None,
                   k: int = 12, hra: bool = True) -> DataFrame:
    """groupBy(by).agg(req_sketch(col)) — relative-error quantiles
    (req/ReqSketch.java:82): HRA mode keeps extreme-tail ranks
    near-exact, the regime KLL's uniform rank error can't serve
    (length/score distribution tails in data pipelines)."""
    from ..sketches.req import ReqSketch
    by = by or []

    def build(grp: pd.DataFrame) -> bytes:
        return ReqSketch(k, hra).update_batch(
            grp[col].dropna().to_numpy().astype(np.float64)).to_bytes()

    def merge(imgs: list[bytes]) -> bytes:
        out = ReqSketch.from_bytes(imgs[0])
        for b in imgs[1:]:
            out.merge(ReqSketch.from_bytes(b))
        return out.to_bytes()

    return _two_phase(df, by, [col], build, merge, "req_sketch")


@F.pandas_udf(T.BinaryType())
def req_to_java(images: pd.Series) -> pd.Series:
    """Engine REQ image → reference wire format (req/ReqSerDe.java)."""
    from ..sketches.req import ReqSketch
    from ..sketches.req_serde import to_java_bytes
    return images.map(lambda b: to_java_bytes(ReqSketch.from_bytes(b)))


@F.pandas_udf(T.BinaryType())
def req_from_java(images: pd.Series) -> pd.Series:
    """Reference REQ wire format → engine image."""
    from ..sketches.req_serde import from_java_bytes
    return images.map(lambda b: from_java_bytes(b).to_bytes())


def req_quantiles(ranks: list[float], inclusive: bool = True) -> Callable:
    """Scalar UDF factory: quantiles at ``ranks`` from a REQ image
    column (req/ReqSketch.getQuantile counterpart)."""
    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def qs(images: pd.Series) -> pd.Series:
        from ..sketches.req import ReqSketch
        return images.map(
            lambda b: ReqSketch.from_bytes(b).quantiles(ranks, inclusive))
    return qs


# ---------------------------------------------------------------------------
# frequent items
# ---------------------------------------------------------------------------

def freq_sketch_agg(df: DataFrame, col: str,
                    by: list[str] | None = None) -> DataFrame:
    """groupBy(by).agg(frequent_items(col)) -> by + freq_sketch:binary,
    with Spark's built-in ``approx_top_k_accumulate`` over the column
    cast to STRING (datasketches-java ItemsSketch, map-side partial
    aggregation, no Python worker).  It tracks
    ``FREQ_DEFAULT_MAX_MAP_SIZE`` items (lgMaxMapSize 11, 1,536
    counters), so a group with up to that many distinct items stays
    exact; NULLs are dropped, and an all-NULL group gives the empty
    image.  The image is the reference's string ItemsSketch image
    (``freq_serde``)."""
    acc = F.call_function("approx_top_k_accumulate", F.col(col).cast("string"),
                          F.lit(FREQ_DEFAULT_MAX_MAP_SIZE))
    return df.groupBy(*(by or [])).agg(acc.getField("sketch").alias("freq_sketch"))


_FREQ_ROW = T.ArrayType(T.StructType([
    T.StructField("item", T.StringType()),
    T.StructField("estimate", T.LongType()),
    T.StructField("lower_bound", T.LongType()),
    T.StructField("upper_bound", T.LongType()),
]))


def freq_items(threshold: int, error_type: str = "NO_FALSE_POSITIVES") -> Callable:
    """Scalar UDF factory: (item, estimate, lb, ub) heavy-hitter rows
    above ``threshold`` from a freq image column, under the chosen
    error regime (NO_FALSE_POSITIVES | NO_FALSE_NEGATIVES)."""
    @F.pandas_udf(_FREQ_ROW)
    def items(images: pd.Series) -> pd.Series:
        return images.map(lambda b: ItemsSketch.from_bytes(b).frequent_items(
            threshold, error_type))
    return items


# ---------------------------------------------------------------------------
# tuple (attributed distinct) sketch
# ---------------------------------------------------------------------------

def tuple_sketch_agg(df: DataFrame, key_col: str, value_cols: list[str],
                     by: list[str] | None = None,
                     lg_k: int = DEFAULT_LG_K,
                     seed: int = DEFAULT_UPDATE_SEED,
                     mode: str = "Sum",
                     values_dtype: str = "double") -> DataFrame:
    """groupBy(by).agg(tuple_sketch(key, values)) — distinct keys with
    per-key summary algebra (tuple/UpdatableSketch.java:40).

    ``values_dtype="long"`` carries int64 summaries end-to-end
    (IntegerSummary counterpart): integer totals never touch a float,
    so exact-mode sums are order/partition deterministic.
    """
    from ..sketches import tuple as tpl
    by = by or []
    np_dtype = np.int64 if values_dtype == "long" else np.float64

    def build(grp: pd.DataFrame) -> bytes:
        keys = grp[key_col].to_numpy().astype(np.int64)
        vals = grp[list(value_cols)].to_numpy().astype(np_dtype)
        return tpl.sketch_keyed_values(
            keys, vals, lg_k, seed, mode, values_dtype=np_dtype).to_bytes()

    def merge(imgs: list[bytes]) -> bytes:
        return tpl.union_many(
            [tpl.TupleSketch.from_bytes(b) for b in imgs]).to_bytes()

    return _two_phase(df, by, [key_col, *value_cols], build, merge,
                      "tuple_sketch")


@F.pandas_udf(T.DoubleType())
def tuple_estimate(images: pd.Series) -> pd.Series:
    """Distinct-key estimate from a tuple-sketch image column
    (tuple/Sketch.getEstimate counterpart)."""
    from ..sketches.tuple import TupleSketch
    return images.map(lambda b: TupleSketch.from_bytes(b).estimate())


def tuple_sum_value(dim: int = 0) -> Callable:
    """Unbiased Σ of summary dimension ``dim`` over all distinct keys."""
    @F.pandas_udf(T.DoubleType())
    def s(images: pd.Series) -> pd.Series:
        from ..sketches.tuple import TupleSketch
        return images.map(
            lambda b: float(TupleSketch.from_bytes(b).sum_values()[dim]))
    return s


def tuple_sum_value_long(dim: int = 0) -> Callable:
    """Σ of summary dimension ``dim`` as LongType.  With int64 summaries
    in exact mode the sum is computed in int64 end-to-end (no float
    representation exists anywhere for the value to canonicalize
    differently); estimation-mode results round the unbiased float."""
    @F.pandas_udf(T.LongType())
    def s(images: pd.Series) -> pd.Series:
        from ..sketches.tuple import TupleSketch
        return images.map(
            lambda b: int(round(TupleSketch.from_bytes(b).sum_values()[dim])))
    return s


def tuple_to_java(summary: str = "int_java") -> Callable:
    """Engine tuple image → reference serVer-3 tuple CompactSketch
    image (tuple/CompactSketch.java:199-249 layout; summary codec
    per sketches/tuple_serde)."""
    @F.pandas_udf(T.BinaryType())
    def conv(images: pd.Series) -> pd.Series:
        from ..sketches import tuple_serde
        from ..sketches.tuple import TupleSketch
        return images.map(
            lambda b: tuple_serde.to_java_bytes(
                TupleSketch.from_bytes(b), summary))
    return conv


def tuple_from_java(summary: str = "int_java") -> Callable:
    """Reference serVer-1/2/3 tuple CompactSketch image → engine image
    (Sketches.heapifySketch counterpart)."""
    @F.pandas_udf(T.BinaryType())
    def conv(images: pd.Series) -> pd.Series:
        from ..sketches import tuple_serde
        return images.map(
            lambda b: tuple_serde.from_java_bytes(b, summary).to_bytes())
    return conv


@F.pandas_udf(T.BinaryType())
def aod_to_java(images: pd.Series) -> pd.Series:
    """Engine tuple image (float64 values) → reference ArrayOfDoubles
    CompactSketch serVer-1 image."""
    from ..sketches import tuple_serde
    from ..sketches.tuple import TupleSketch
    return images.map(
        lambda b: tuple_serde.aod_to_java_bytes(TupleSketch.from_bytes(b)))


@F.pandas_udf(T.BinaryType())
def aod_from_java(images: pd.Series) -> pd.Series:
    """Reference ArrayOfDoubles CompactSketch image → engine image."""
    from ..sketches import tuple_serde
    return images.map(
        lambda b: tuple_serde.aod_from_java_bytes(b).to_bytes())


def cpc_sketch_agg(df: DataFrame, col: str, by: list[str] | None = None,
                   lg_k: int = 11,
                   seed: int = DEFAULT_UPDATE_SEED) -> DataFrame:
    """groupBy(by).agg(cpc_sketch(col)) — the CPC bit-matrix core
    (cpc/CpcSketch.java:64) in the standard two-phase shape; shuffle
    payloads are the engine's sparse-pairs/dense-matrix images.
    STRING columns hash their UTF-8 bytes with the batch murmur3
    (update(String), cpc/CpcSketch.java:342), like the theta agg."""
    from ..sketches import cpc
    from ..sketches.murmur3 import hash128_bytes_batch
    by = by or []
    is_string = isinstance(df.schema[col].dataType, T.StringType)

    def build(grp: pd.DataFrame) -> bytes:
        vals = grp[col].dropna()
        if is_string:
            vals = vals[vals != ""]
            flat, starts, lengths = _utf8_flat(vals)
            h0, h1 = hash128_bytes_batch(flat, starts, lengths, seed)
            return cpc.from_hash_pair(h0, h1, lg_k, seed).to_bytes()
        return cpc.sketch_longs(
            vals.to_numpy().astype(np.int64), lg_k, seed).to_bytes()

    def merge(imgs: list[bytes]) -> bytes:
        return cpc.union_many(
            [cpc.CpcSketch.from_bytes(b) for b in imgs]).to_bytes()

    return _two_phase(df, by, [col], build, merge, "cpc_sketch")


@F.pandas_udf(T.DoubleType())
def cpc_estimate(images: pd.Series) -> pd.Series:
    """ICON estimate (merge-safe) from a CPC image column."""
    from ..sketches.cpc import CpcSketch
    return images.map(lambda b: CpcSketch.from_bytes(b).estimate())


@F.pandas_udf(T.BinaryType())
def cpc_to_java(images: pd.Series) -> pd.Series:
    """Engine CPC image → reference compressed wire format."""
    from ..sketches import cpc_serde
    from ..sketches.cpc import CpcSketch
    return images.map(
        lambda b: cpc_serde.to_java_bytes(CpcSketch.from_bytes(b)))


@F.pandas_udf(T.BinaryType())
def cpc_from_java(images: pd.Series) -> pd.Series:
    """Reference compressed CPC image → engine image (heapify)."""
    from ..sketches import cpc_serde
    return images.map(
        lambda b: cpc_serde.from_java_bytes(b).to_bytes())


def varopt_sketch_agg(df: DataFrame, item_col: str, weight_col: str,
                      by: list[str] | None = None, k: int = 1024) -> DataFrame:
    """TRUE VarOpt two-phase aggregation (heavy/light two-region
    algorithm, sampling/VarOptItemsSketch.java:72; merge via the
    marked-item union, VarOptItemsUnion.java:205).  The vectorized
    priority_sample_agg remains the batch-optimized alternative."""
    from ..sketches.varopt import VarOptSketch, VarOptUnion
    by = by or []

    def build(grp: pd.DataFrame) -> bytes:
        items = grp[item_col].to_numpy().astype(np.int64)
        weights = grp[weight_col].to_numpy().astype(np.float64)
        return VarOptSketch(k).update_batch(items, weights).to_bytes()

    def merge(imgs: list[bytes]) -> bytes:
        u = VarOptUnion(k)
        for b in imgs:
            u.update(VarOptSketch.from_bytes(b))
        return u.get_result().to_bytes()

    return _two_phase(df, by, [item_col, weight_col], build, merge,
                      "varopt_sketch")


def varopt_true_subset_sum(predicate) -> Callable:
    """Unbiased subset-sum estimate from a TRUE VarOpt image
    (VarOptItemsSketch.estimateSubsetSum:636)."""
    @F.pandas_udf(T.DoubleType())
    def s(images: pd.Series) -> pd.Series:
        from ..sketches.varopt import VarOptSketch
        return images.map(
            lambda b: VarOptSketch.from_bytes(b)
            .estimate_subset_sum(lambda it: predicate(it))["estimate"])
    return s


def fdt_topk(df: DataFrame, primary_cols: list[str], rest_col: str,
             k: int = 10, lg_k: int = DEFAULT_LG_K) -> DataFrame:
    """Frequent distinct tuples (fdt/FdtSketch.java:49) as the pure
    Spark composition SURVEY.md §2.7 prescribes: groupBy(primary) →
    theta-distinct(rest) → top-k by estimate."""
    sk = theta_sketch_agg(df, rest_col, by=primary_cols, lg_k=lg_k)
    return (sk.select(*primary_cols,
                      F.theta_sketch_estimate("theta_sketch")
                      .alias("distinct_rest"))
            .orderBy(F.desc("distinct_rest"), *primary_cols)
            .limit(k))


# ---------------------------------------------------------------------------
# sampling
# ---------------------------------------------------------------------------

def reservoir_agg(df: DataFrame, col: str, by: list[str] | None = None,
                  k: int = 1024) -> DataFrame:
    """groupBy(by).agg(reservoir_sample_k(col)) -> by +
    reservoir_sketch:binary — two-phase uniform fixed-k sampling with
    weighted-coin union (sampling/ReservoirItemsUnion)."""
    by = by or []

    def build(grp: pd.DataFrame) -> bytes:
        return ReservoirSketch(k).update_batch(grp[col].tolist()).to_bytes()

    def merge(imgs: list[bytes]) -> bytes:
        out = ReservoirSketch.from_bytes(imgs[0])
        for b in imgs[1:]:
            out.merge(ReservoirSketch.from_bytes(b))
        return out.to_bytes()

    return _two_phase(df, by, [col], build, merge, "reservoir_sketch")


def priority_sample_agg(df: DataFrame, item_col: str, weight_col: str,
                        by: list[str] | None = None, k: int = 1024) -> DataFrame:
    """groupBy(by).agg(priority_sample_k(item, weight)) → by +
    varopt_sketch:binary — the vectorized priority-sampling scale
    path for VarOpt-style weighted subset sums (Duffield et al.;
    exact heavy/light VarOpt is varopt_sketch_agg)."""
    by = by or []

    def build(grp: pd.DataFrame) -> bytes:
        return PrioritySample(k).update_batch(
            grp[item_col].to_numpy().astype(np.int64),
            grp[weight_col].to_numpy().astype(np.float64)).to_bytes()

    def merge(imgs: list[bytes]) -> bytes:
        out = PrioritySample.from_bytes(imgs[0])
        for b in imgs[1:]:
            out.merge(PrioritySample.from_bytes(b))
        return out.to_bytes()

    return _two_phase(df, by, [item_col, weight_col], build, merge, "varopt_sketch")


@F.pandas_udf(T.LongType())
def reservoir_n(images: pd.Series) -> pd.Series:
    """Stream length n recorded in a reservoir image column."""
    return images.map(lambda b: ReservoirSketch.from_bytes(b).n)


@F.pandas_udf(T.ArrayType(T.LongType()))
def reservoir_samples_long(images: pd.Series) -> pd.Series:
    """Sorted long samples of a reservoir image."""
    return images.map(lambda b: sorted(
        int(x) for x in ReservoirSketch.from_bytes(b).samples))


def varopt_subset_sum(predicate: Callable) -> Callable:
    """UDF factory: unbiased Σweight over items matching ``predicate``
    (sampling/VarOptItemsSketch.java:636 estimateSubsetSum)."""
    @F.pandas_udf(T.DoubleType())
    def subset_sum(images: pd.Series) -> pd.Series:
        return images.map(lambda b: PrioritySample.from_bytes(b)
                          .estimate_subset_sum(predicate)["estimate"])
    return subset_sum
