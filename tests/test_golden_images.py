"""Frozen serialized sketch images must stay readable and answer the
same — the analogue of the reference's cross-version .sk resources
(src/test/resources/Qk128_n1000_v0.3.0.sk, cpc-*.sk, read by
cpc/CpcCBinariesTest.java:42-93).  A failing test here means a
checkpoint-format break: bump the SerVer and add a reader, don't
regenerate the fixtures."""

from __future__ import annotations

import hashlib
import json
import os

import pytest

GOLDEN = os.path.join(os.path.dirname(__file__), "golden")


@pytest.fixture(scope="module")
def expected():
    with open(os.path.join(GOLDEN, "expected.json")) as f:
        return json.load(f)


def _read(name: str) -> bytes:
    with open(os.path.join(GOLDEN, name), "rb") as f:
        return f.read()


def test_images_unchanged(expected):
    for name, sha in expected.items():
        if name == "_answers":
            continue
        assert hashlib.sha256(_read(name)).hexdigest() == sha, name


def test_theta_images_readable(expected):
    """The theta, HLL and KLL goldens hold the engine's retired private
    images; they read as before, and rewritten as the reference image
    they answer the same."""
    from datasketches_java_spark.sketches import theta
    a = expected["_answers"]
    for name in ("theta_exact", "theta_est"):
        sk = theta.ThetaSketch.from_bytes(_read(f"{name}.sk"))
        assert [sk.lg_k, sk.count, int(sk.theta)] == a[f"{name}_state"]
        assert sk.estimate() == a[f"{name}_estimate"]
        assert list(sk.bounds(2)) == a[f"{name}_bounds_2sd"]
        assert theta.ThetaSketch.from_bytes(sk.to_bytes()).estimate() \
            == a[f"{name}_estimate"]


def test_hll_kll_tuple_readable(expected):
    from datasketches_java_spark.sketches import hll
    from datasketches_java_spark.sketches import tuple as tpl
    from datasketches_java_spark.sketches.kll import KllDoublesSketch
    a = expected["_answers"]
    h = hll.HllSketch.from_bytes(_read("hll_10k.sk"))
    assert h.lg_k == a["hll_lg_k"] and h.estimate() == a["hll_estimate"]
    assert list(h.bounds(2)) == a["hll_bounds_2sd"]
    assert hll.HllSketch.from_bytes(h.to_bytes()).estimate() \
        == a["hll_estimate"]
    k = KllDoublesSketch.from_bytes(_read("kll_5k.sk"))
    assert [k.k, k.n, k.min_value, k.max_value] == a["kll_state"]
    assert k.quantile(0.5) == a["kll_median"]
    assert k.quantiles(a["kll_ranks"]) == a["kll_quantiles"]
    assert k.rank(k.quantile(0.5)) == a["kll_rank_of_median"]
    assert KllDoublesSketch.from_bytes(k.to_bytes()).quantiles(
        a["kll_ranks"]) == a["kll_quantiles"]
    assert float(tpl.TupleSketch.from_bytes(
        _read("tuple_sum.sk")).sum_values()[0]) == a["tuple_sum"]


def test_sampling_freq_readable():
    from datasketches_java_spark.sketches.frequencies import ItemsSketch
    from datasketches_java_spark.sketches.sampling import (
        PrioritySample, ReservoirSketch)
    with pytest.raises(ValueError):
        ItemsSketch.from_bytes(_read("freq_zipf.sk"))
    assert ReservoirSketch.from_bytes(_read("reservoir.sk")).n == 1000
    assert PrioritySample.from_bytes(_read("varopt.sk")).estimate_subset_sum(
        lambda x: True)["estimate"] > 0


def test_merge_golden_with_fresh():
    """Old images must merge with freshly built sketches (resume after
    a code upgrade)."""
    import numpy as np
    from datasketches_java_spark.sketches import theta
    old = theta.ThetaSketch.from_bytes(_read("theta_exact.sk"))
    new = theta.sketch_longs(np.arange(500, 1500), 12)
    assert theta.union(old, new).estimate() == pytest.approx(1500)
