"""KLL compact-image serde tests — layout literals per
kll/KllPreambleUtil.java:130-161 and KllHelper.java:562-639."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from datasketches_java_spark.sketches.kll import KllDoublesSketch
from datasketches_java_spark.sketches.kll_serde import (
    _total_capacity,
    from_java_bytes,
    to_java_bytes,
)


def test_empty_and_single_layouts():
    empty = to_java_bytes(KllDoublesSketch.new(200))
    assert empty == struct.pack("<BBBBHBB", 2, 1, 15, 1 | 8, 200, 8, 0)
    rt = from_java_bytes(empty)
    assert rt.n == 0 and rt.k == 200

    one = KllDoublesSketch.new(200).update_batch(np.array([3.25]))
    img = to_java_bytes(one)
    assert img[:8] == struct.pack("<BBBBHBB", 2, 2, 15, 4 | 8, 200, 8, 0)
    assert struct.unpack_from("<d", img, 8)[0] == 3.25
    rt = from_java_bytes(img)
    assert rt.n == 1 and rt.quantile(0.5) == 3.25
    assert rt.min_value == rt.max_value == 3.25


def test_full_layout_and_roundtrip():
    rng = np.random.default_rng(1)
    sk = KllDoublesSketch.new(200).update_batch(rng.standard_normal(50_000))
    img = to_java_bytes(sk)
    pre_ints, ser_ver, fam, flags, k, m, _ = struct.unpack_from("<BBBBHBB", img, 0)
    assert (pre_ints, ser_ver, fam, k, m) == (5, 1, 15, 200, 8)
    assert flags & 8 and flags & 2 and not flags & 16      # doubles, L0 sorted
    assert struct.unpack_from("<q", img, 8)[0] == 50_000
    num_levels = img[18]
    assert num_levels == len([lv for lv in sk.levels])
    starts = np.frombuffer(img, dtype="<i4", count=num_levels, offset=20)
    # offsets into an array of the reference's total capacity, whose
    # end the retained items fill (what datasketches-java heapifies)
    retained = sum(lv.shape[0] for lv in sk.levels)
    assert starts[0] == _total_capacity(200, num_levels) - retained
    assert np.all(np.diff(starts) >= 0)
    rt = from_java_bytes(img)
    assert rt.n == sk.n and rt.k == sk.k
    assert rt.min_value == sk.min_value and rt.max_value == sk.max_value
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        assert rt.quantile(q) == sk.quantile(q)


def test_nonzero_level_base_offsets_read():
    """The reference serializes RAW in-memory level offsets (front
    garbage space makes starts[0] > 0); the reader must normalize."""
    sk = KllDoublesSketch.new(200).update_batch(
        np.random.default_rng(2).standard_normal(10_000))
    img = bytearray(to_java_bytes(sk))
    num_levels = img[18]
    starts = np.frombuffer(bytes(img), dtype="<i4", count=num_levels,
                           offset=20) + 7     # simulate garbage offset
    img[20:20 + num_levels * 4] = starts.astype("<i4").tobytes()
    rt = from_java_bytes(bytes(img))
    assert rt.n == sk.n
    assert rt.quantile(0.5) == sk.quantile(0.5)


def _unflagged(img: bytes, item_fmt: str) -> bytes:
    """``img`` as datasketches-java 6.x writes it: no doubles flag, items
    (min, max and the retained ones) as ``item_fmt``."""
    head = 8 if img[1] == 2 else 20 + 4 * img[18]
    items = np.frombuffer(img, dtype="<f8", offset=head)
    return (img[:3] + bytes([img[3] & ~8]) + img[4:head]
            + items.astype(item_fmt).tobytes())


@pytest.mark.parametrize("n", [1, 150, 20_000])
@pytest.mark.parametrize("item_fmt", ["<f8", "<f4"])
def test_unflagged_images_read_by_length(n, item_fmt):
    """Without the doubles flag the item width comes from the image's
    length: doubles and floats both read back."""
    x = np.random.default_rng(n).standard_normal(n).astype(item_fmt)
    sk = KllDoublesSketch.new(200).update_batch(x.astype(np.float64))
    rt = from_java_bytes(_unflagged(to_java_bytes(sk), item_fmt))
    assert rt.n == n and rt.min_value == x.min() and rt.max_value == x.max()
    for q in (0.01, 0.5, 0.99):
        assert rt.quantile(q) == sk.quantile(q)


def test_merge_through_wire_matches_error_envelope():
    from datasketches_java_spark.sketches.kll import rank_error
    rng = np.random.default_rng(3)
    vals = rng.standard_normal(80_000)
    parts = np.array_split(vals, 4)
    merged = KllDoublesSketch.new(200)
    for p in parts:
        part = KllDoublesSketch.new(200).update_batch(p)
        merged.merge(from_java_bytes(to_java_bytes(part)))
    s = np.sort(vals)
    for q in (0.1, 0.5, 0.9):
        true_rank = np.searchsorted(s, merged.quantile(q), "right") / vals.size
        assert abs(true_rank - q) <= 2 * rank_error(200) + 1e-9


def test_rejections():
    with pytest.raises(ValueError, match="family"):
        from_java_bytes(struct.pack("<BBBBHBB", 2, 1, 3, 9, 200, 8, 0))
    # empty FLOAT image (no doubles flag) now heapifies — float read
    # support added in round 3 (kll_sketch_float_one_item_v1.sk golden)
    empty_float = from_java_bytes(struct.pack("<BBBBHBB", 2, 1, 15, 1,
                                              200, 8, 0))
    assert empty_float.n == 0
    with pytest.raises(ValueError, match="updatable"):
        from_java_bytes(struct.pack("<BBBBHBB", 5, 3, 15, 8 | 16, 200, 8, 0))
