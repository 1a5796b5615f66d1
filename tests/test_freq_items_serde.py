"""String-keyed frequent-items wire format (frequencies/ItemsSketch
.java toByteArray:494 with ArrayOfStringsSerDe payloads)."""

from __future__ import annotations

import os
import pickle
import struct

import numpy as np
import pytest

from datasketches_java_spark.sketches.frequencies import ItemsSketch
from datasketches_java_spark.sketches.freq_serde import (
    from_java_bytes, items_from_java_bytes, items_to_java_bytes)


def test_empty_and_exact_roundtrip():
    assert items_from_java_bytes(
        items_to_java_bytes(ItemsSketch(256))).counts == {}
    sk = ItemsSketch(256)
    sk.update_batch(["com", "org", "com", "net", "ümlaut.de"],
                    [5, 3, 2, 1, 4])
    back = items_from_java_bytes(items_to_java_bytes(sk))
    assert back.counts == {"com": 7, "org": 3, "net": 1, "ümlaut.de": 4}
    assert back.stream_weight == sk.stream_weight
    assert back.offset == 0


def test_estimation_mode_roundtrip_and_merge():
    rng = np.random.default_rng(3)
    sk = ItemsSketch(64)
    doms = [f"d{int(x)}.com" for x in rng.zipf(1.5, 20_000) % 3000]
    sk.update_batch(doms)
    assert sk.offset > 0  # purged -> estimation mode
    back = items_from_java_bytes(items_to_java_bytes(sk))
    assert back.counts == sk.counts
    assert back.offset == sk.offset
    assert back.stream_weight == sk.stream_weight
    other = ItemsSketch(64)
    other.update_batch(["d1.com"] * 500)
    back.merge(other)
    assert back.estimate("d1.com") >= 500


def test_layout_is_longs_compatible_preamble():
    """The generic image shares the LongsSketch preamble; a longs
    reader must reject it only at the key-decoding stage, never
    misread — here we check the preamble fields line up."""
    sk = ItemsSketch(128)
    sk.update_batch(["a", "b"])
    img = items_to_java_bytes(sk)
    assert img[1] == 1 and img[2] == 10  # serVer, family FREQUENCY
    assert img[0] == 4                   # maxPreLongs
    # values region identical interpretation in both forms
    vals = np.frombuffer(img, "<i8", count=2, offset=32)
    assert sorted(vals.tolist()) == [1, 1]


def test_rejections():
    with pytest.raises(ValueError, match="family"):
        items_from_java_bytes(bytes([1, 1, 7, 8, 3, 4, 0, 0]))
    with pytest.raises(ValueError, match="serVer"):
        items_from_java_bytes(bytes([1, 9, 10, 8, 3, 4, 0, 0]))
    with pytest.raises(ValueError, match="lgMaxMapSize"):
        items_from_java_bytes(bytes([1, 1, 10, 2, 3, 4, 0, 0]))
    img = items_to_java_bytes(ItemsSketch(64).update_batch(["abc"]))
    with pytest.raises(ValueError, match="truncated"):
        items_from_java_bytes(img[:-1])
    with pytest.raises(ValueError, match="activeItems"):
        items_from_java_bytes(img[:8] + struct.pack("<i", -1) + img[12:])


def test_non_string_items_are_keyed_by_their_string():
    """Integer items (a Spark integer column) are written under their
    string form, as the reference's string ItemsSketch holds them."""
    sk = ItemsSketch(64).update_batch([1, 2, 2, 3])
    back = items_from_java_bytes(items_to_java_bytes(sk))
    assert back.counts == {"1": 1, "2": 2, "3": 1}
    assert back.stream_weight == 4


def test_legacy_pickle_image_is_never_unpickled(tmp_path):
    """The retired ``b"FQ01" + pickle`` image raises a ValueError that
    names it, before any byte of the pickle is loaded."""
    marker = tmp_path / "unpickled"

    class Payload:
        def __reduce__(self):
            return os.mkdir, (str(marker),)

    img = b"FQ01" + pickle.dumps((1024, 0, 1, {"a": Payload()}), protocol=4)
    for read in (ItemsSketch.from_bytes, items_from_java_bytes,
                 from_java_bytes):
        for buf in (img, bytearray(img)):
            with pytest.raises(ValueError, match="FQ01"):
                read(buf)
    assert not marker.exists()
    pickle.loads(img[4:])  # the payload does act when unpickled
    assert marker.exists()
