"""Reference-binary frequent-items serde — LongsSketch and string
ItemsSketch images.

Byte layout per frequencies/PreambleUtil.java:74-89 and the writers
frequencies/LongsSketch.java:565-605 and ItemsSketch.java:494-535
(little-endian):

  empty (8B) : {preLongs=1, serVer=1, famID=10, lgMaxMapSize,
                lgCurMapSize, flags=EMPTY(4), 0, 0}
  full       : pre0 {preLongs=4, serVer=1, famID=10, lgMaxMapSize,
                lgCurMapSize, flags=0, 0, 0},
               long1 = activeItems (int, low half),
               long2 = streamWeight, long3 = offset,
               then activeItems VALUE longs followed by the activeItems
               KEYS (values before keys, LongsSketch.java:599-602):
               longs in a LongsSketch image; in a string ItemsSketch
               image ArrayOfStringsSerDe payloads
               (common/ArrayOfStringsSerDe.java:39: int32 UTF-8 length
               + bytes per item), the form Hive/Pig string columns use.

The string ItemsSketch image is the frequent-items family's one image
(``ItemsSketch.to_bytes``/``from_bytes``).  Spark's built-in
``approx_top_k_accumulate`` writes it with datasketches-java and
appends 8 bytes of its own (a big-endian NULL count), which the
reader ignores.  Its maxItemsTracked m becomes the smallest map whose
capacity 0.75 x 2^lgMaxMapSize holds m counters (1024 -> 11); the
engine's ``max_map_size`` is that capacity, so the string image
records the same lgMaxMapSize, the JVM heapifies it without a purge,
and the reader returns the capacity.

Semantics note: the reference's stored value per key IS the guaranteed
lower bound (getLowerBound returns it verbatim; getEstimate adds the
global offset — LongsSketch.java:378-396), which is exactly this
engine's ``counts`` dict, so values transfer with no adjustment.
"""

from __future__ import annotations

import struct

import numpy as np

from .frequencies import ItemsSketch

_SER_VER = 1
_FAMILY_FREQ = 10
_FLAG_EMPTY = 4
_LG_MIN_MAP_SIZE = 3
_LG_MAX_MAP_SIZE = 31
_LOAD_FACTOR = 0.75
_RETIRED_MAGIC = b"FQ01"


def _lg(x: int) -> int:
    lg = 0
    while (1 << lg) < x:
        lg += 1
    return lg


def _lg_cur_map_size(active: int) -> int:
    lg = _LG_MIN_MAP_SIZE
    while (1 << lg) * _LOAD_FACTOR < active:
        lg += 1
    return lg


def _preamble(lg_max: int, sk: ItemsSketch, active: int) -> bytes:
    lg_max = max(lg_max, _LG_MIN_MAP_SIZE)
    if not active:
        return struct.pack("<BBBBBBBB", 1, _SER_VER, _FAMILY_FREQ, lg_max,
                           _LG_MIN_MAP_SIZE, _FLAG_EMPTY, 0, 0)
    return struct.pack("<BBBBBBBBiiqq", 4, _SER_VER, _FAMILY_FREQ, lg_max,
                       _lg_cur_map_size(active), 0, 0, 0,
                       active, 0, sk.stream_weight, sk.offset)


def _read_preamble(buf: bytes) -> tuple[int, int, int, int, np.ndarray, int]:
    """(lgMaxMapSize, activeItems, streamWeight, offset, values, offset
    of the keys) of an image; activeItems is 0 for the empty image."""
    if bytes(buf[:4]) == _RETIRED_MAGIC:
        raise ValueError(
            "retired FQ01 frequent-items image (the engine's old pickle "
            "format) is not read; rebuild the sketch from its rows")
    if len(buf) < 8:
        raise ValueError("frequencies image too short")
    pre_longs, ser_ver, fam, lg_max, _lg_cur, flags = \
        struct.unpack_from("<BBBBBB", buf, 0)
    if ser_ver != _SER_VER:
        raise ValueError(f"unsupported frequencies serVer {ser_ver}")
    if fam != _FAMILY_FREQ:
        raise ValueError(f"family {fam} is not a frequencies image (need 10)")
    if not _LG_MIN_MAP_SIZE <= lg_max <= _LG_MAX_MAP_SIZE:
        raise ValueError(f"frequencies lgMaxMapSize {lg_max} out of range")
    if flags & _FLAG_EMPTY or pre_longs == 1:
        return lg_max, 0, 0, 0, np.empty(0, np.int64), 8
    active, _pad, stream_weight, offset = struct.unpack_from("<iiqq", buf, 8)
    if active < 0:
        raise ValueError(f"negative frequencies activeItems {active}")
    off = pre_longs << 3
    values = np.frombuffer(buf, dtype="<i8", count=active, offset=off)
    return (lg_max, active, int(stream_weight), int(offset), values,
            off + active * 8)


def to_java_bytes(sk: ItemsSketch) -> bytes:
    """Serialize to the reference's LongsSketch image
    (LongsSketch.toByteArray:565).  Long keys only."""
    try:
        keys = np.array(sorted(int(k) for k in sk.counts), dtype=np.int64)
    except (TypeError, ValueError) as e:
        raise ValueError(
            "LongsSketch images carry long keys only; "
            f"non-integer item present: {e}") from e
    values = np.array([sk.counts[int(k)] for k in keys], dtype=np.int64)
    return (_preamble(_lg(sk.max_map_size), sk, len(keys))
            + values.astype("<i8").tobytes() + keys.astype("<i8").tobytes())


def from_java_bytes(buf: bytes) -> ItemsSketch:
    """Heapify a LongsSketch image (LongsSketch.getInstance
    counterpart)."""
    lg_max, active, stream_weight, offset, values, off = _read_preamble(buf)
    keys = np.frombuffer(buf, dtype="<i8", count=active, offset=off)
    counts = {int(k): int(v) for k, v in zip(keys, values)}
    return ItemsSketch(1 << lg_max, counts, offset, stream_weight)


def items_to_java_bytes(sk: ItemsSketch) -> bytes:
    """Serialize to the reference's string ItemsSketch image
    (ItemsSketch.toByteArray:494 with ArrayOfStringsSerDe).  Items are
    keyed by their string form."""
    counts: dict[str, int] = {}
    for k, v in sk.counts.items():
        counts[str(k)] = counts.get(str(k), 0) + v
    keys = sorted(counts)
    values = np.array([counts[k] for k in keys], dtype="<i8")
    payload = b"".join(struct.pack("<i", len(b)) + b
                       for b in (k.encode("utf-8") for k in keys))
    lg_max = _lg(-(-sk.max_map_size // 3) * 4)  # capacity >= max_map_size
    return _preamble(lg_max, sk, len(keys)) + values.tobytes() + payload


def items_from_java_bytes(buf: bytes) -> ItemsSketch:
    """Heapify a string ItemsSketch image (ItemsSketch.getInstance
    counterpart with ArrayOfStringsSerDe).  Trailing bytes are
    ignored."""
    lg_max, _, stream_weight, offset, values, off = _read_preamble(buf)
    counts = {}
    for v in values.tolist():
        (ln,) = struct.unpack_from("<i", buf, off)
        off += 4
        if ln < 0 or off + ln > len(buf):
            raise ValueError("frequencies image truncated in its items")
        counts[bytes(buf[off:off + ln]).decode("utf-8")] = v
        off += ln
    capacity = int((1 << lg_max) * _LOAD_FACTOR)
    return ItemsSketch(capacity, counts, offset, stream_weight)
