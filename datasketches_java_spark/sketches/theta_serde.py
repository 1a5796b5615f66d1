"""Reference-binary theta sketch serde — compact images.

Reads and writes the Apache DataSketches compact theta wire format so
sketches interoperate with datasketches-java/-cpp/-hive/-pig producers
and consumers, Spark's built-in ``theta_sketch_agg`` among them.
Byte layout per theta/PreambleUtil.java:28-133 and the writer
theta/CompactOperations.java:218-270 (all little-endian):

  empty        : 8B  preamble {preLongs=1, serVer=3, famID=3, 0, 0,
                 flags=0x1E, seedHash=0} (EmptyCompactSketch.java:39 —
                 the seed hash is zero by spec for the empty form)
  single item  : 8B  preamble {1, 3, 3, 0, 0, flags=0x3A, seedHash}
                 + one hash long (SingleItemSketch.java:53-66)
  exact        : 16B preamble (preLongs=2): pre0 {2,3,3,0,0,0x1A,seedHash},
                 long1 = {curCount:int32, p=1.0f} + count hash longs
  estimating   : 24B preamble (preLongs=3): + thetaLong at offset 16

Flags byte: 1=bigEndian, 2=readOnly, 4=empty, 8=compact, 16=ordered,
32=singleItem (PreambleUtil.java:174-179).  We always WRITE
compact-ordered (the merge-optimal form the reference's union
early-stops on); we READ ordered or unordered compacts.

serVer 4 is the compressed compact-ordered image that
CompactSketch.toByteArrayCompressed() writes for two or more entries
(datasketches-java 6.x; what Spark's theta aggregates emit):

  8B  preamble {preLongs=1|2, serVer=4, famID=3, entryBits,
      numEntriesBytes, flags, seedHash}
  @8  thetaLong when preLongs == 2 (estimation mode)
  numEntries in numEntriesBytes little-endian bytes, then the deltas
  between consecutive sorted hashes (the first against 0), each
  entryBits wide, packed as one MSB-first bit stream.
"""

from __future__ import annotations

import struct

import numpy as np

from ..config import DEFAULT_LG_K, DEFAULT_UPDATE_SEED, MAX_LG_K
from .theta import MAX_THETA, ThetaSketch, compute_seed_hash

_SER_VER = 3
_SER_VER_COMPRESSED = 4
_FAMILY_COMPACT = 3
_FLAG_BIG_ENDIAN = 1
_FLAG_READ_ONLY = 2
_FLAG_EMPTY = 4
_FLAG_COMPACT = 8
_FLAG_ORDERED = 16
_FLAG_SINGLE_ITEM = 32

_EMPTY_IMAGE = bytes([1, 3, 3, 0, 0, 0x1E, 0, 0])


def _lg_k_for_count(count: int, estimating: bool) -> int:
    """Nominal lgK for an image that does not store it, never below the
    default.  An estimating sketch retains between k and 2k entries (k
    exactly for the engine's KMV, up to 15/16 of 2k for the reference's
    QuickSelect), so k is the largest power of two <= count.  An exact
    sketch holds every item; twice its count keeps the union of two
    exact sketches exact, which the pairwise set operations rely on."""
    lg = count.bit_length() - 1 if estimating else count.bit_length() + 1
    return min(max(lg, DEFAULT_LG_K), MAX_LG_K)


def _seed_hash(seed: int | None) -> int:
    return compute_seed_hash(DEFAULT_UPDATE_SEED if seed is None else seed)


def to_java_bytes(sk: ThetaSketch) -> bytes:
    """Serialize to the reference's serVer-3 compact-ordered image
    (what CompactSketch.toByteArray() emits for an ordered compact)."""
    if sk.is_empty:
        return _EMPTY_IMAGE
    if sk.count == 1 and sk.theta == MAX_THETA:
        pre0 = struct.pack("<BBBBBBH", 1, _SER_VER, _FAMILY_COMPACT, 0, 0,
                           _FLAG_READ_ONLY | _FLAG_COMPACT | _FLAG_ORDERED
                           | _FLAG_SINGLE_ITEM, sk.seed_hash)
        return pre0 + sk.hashes.astype("<u8").tobytes()
    estimating = sk.theta != MAX_THETA
    pre_longs = 3 if estimating else 2
    flags = _FLAG_READ_ONLY | _FLAG_COMPACT | _FLAG_ORDERED
    out = [struct.pack("<BBBBBBH", pre_longs, _SER_VER, _FAMILY_COMPACT,
                       0, 0, flags, sk.seed_hash),
           struct.pack("<if", sk.count, 1.0)]
    if estimating:
        out.append(struct.pack("<q", int(sk.theta)))
    out.append(sk.hashes.astype("<u8").tobytes())
    return b"".join(out)


def from_java_bytes(buf: bytes, seed: int | None = DEFAULT_UPDATE_SEED,
                    lg_k: int | None = None) -> ThetaSketch:
    """Heapify a serVer-1..4 compact image (theta/Sketch.java:70
    heapify counterpart).  ``seed`` enables the 16-bit seed-hash check the
    reference performs on every wrap/merge (UnionImpl.java:308); pass
    None to skip.  The nominal k is NOT stored in compact images (the
    reference's set operations take k from their builder, not the
    input image) — pass ``lg_k`` when downstream unions must honor a
    specific nominal size; otherwise the result carries
    lg_k inferred from the count (``_lg_k_for_count``).  With
    ``seed=None`` an image's own seed hash is kept, and images that
    store none (empty, serVer 1) get the default seed's."""
    if len(buf) < 8:
        raise ValueError("theta image too short")
    pre_longs = buf[0] & 0x3F
    ser_ver = buf[1]
    fam = buf[2]
    flags = buf[5]
    seed_hash = struct.unpack_from("<H", buf, 6)[0]
    if ser_ver in (1, 2):
        return _heapify_legacy(buf, ser_ver, pre_longs, fam, flags,
                               seed_hash, seed, lg_k)
    if ser_ver not in (_SER_VER, _SER_VER_COMPRESSED):
        raise ValueError(f"unsupported theta serVer {ser_ver} (only 1-4)")
    if fam != _FAMILY_COMPACT:
        raise ValueError(
            f"family {fam} is not a compact theta image (need 3); "
            "updatable/union forms are not supported by this reader")
    if flags & _FLAG_BIG_ENDIAN:
        raise ValueError("big-endian theta images not supported")
    if flags & _FLAG_EMPTY:
        lg = lg_k if lg_k is not None else DEFAULT_LG_K
        return ThetaSketch(lg, _seed_hash(seed), MAX_THETA,
                           np.empty(0, np.uint64))
    if seed is not None and seed_hash != compute_seed_hash(seed):
        raise ValueError(
            f"seed-hash mismatch: image {seed_hash} != "
            f"computed {compute_seed_hash(seed)} (UnionImpl.java:308)")
    if ser_ver == _SER_VER_COMPRESSED:
        theta, hashes = _unpack_v4(buf, pre_longs)
        return ThetaSketch(
            lg_k if lg_k is not None else
            _lg_k_for_count(hashes.shape[0], theta != MAX_THETA),
            seed_hash, theta, hashes)
    if pre_longs == 1 or flags & _FLAG_SINGLE_ITEM:
        h = np.frombuffer(buf, dtype="<u8", count=1, offset=8).astype(np.uint64)
        return ThetaSketch(lg_k if lg_k is not None else DEFAULT_LG_K,
                           seed_hash, MAX_THETA, h)
    count = struct.unpack_from("<i", buf, 8)[0]
    if pre_longs == 2:
        theta = MAX_THETA
        off = 16
    elif pre_longs == 3:
        theta = np.uint64(struct.unpack_from("<Q", buf, 16)[0])
        off = 24
    else:
        raise ValueError(f"unexpected preLongs {pre_longs} for compact image")
    hashes = np.frombuffer(buf, dtype="<u8", count=count,
                           offset=off).astype(np.uint64)
    if not flags & _FLAG_ORDERED:
        hashes = np.sort(hashes)
    return ThetaSketch(
        lg_k if lg_k is not None else _lg_k_for_count(count, pre_longs == 3),
        seed_hash, theta, hashes)


def _unpack_v4(buf: bytes, pre_longs: int) -> tuple[np.uint64, np.ndarray]:
    """(theta, sorted hashes) of a serVer-4 compressed image: read the
    MSB-first bit stream of entryBits-wide deltas and prefix-sum it."""
    entry_bits, num_entries_bytes = buf[3], buf[4]
    if not 1 <= entry_bits <= 63 or pre_longs not in (1, 2):
        raise ValueError(f"bad serVer-4 preamble: preLongs {pre_longs}, "
                         f"entryBits {entry_bits}")
    theta = (np.uint64(struct.unpack_from("<Q", buf, 8)[0])
             if pre_longs == 2 else MAX_THETA)
    off = pre_longs << 3
    count = int.from_bytes(buf[off:off + num_entries_bytes], "little")
    off += num_entries_bytes
    need = count * entry_bits
    if (len(buf) - off) * 8 < need:
        raise ValueError(f"serVer-4 image truncated: {count} entries of "
                         f"{entry_bits} bits need {(need + 7) // 8} bytes")
    bits = np.unpackbits(np.frombuffer(buf, np.uint8, offset=off))[:need]
    # pad each entry to 64 bits on the left, then read it big-endian
    padded = np.zeros((count, 64), np.uint8)
    padded[:, 64 - entry_bits:] = bits.reshape(count, entry_bits)
    deltas = np.packbits(padded, axis=1).view(">u8").ravel()
    return theta, np.cumsum(deltas, dtype=np.uint64)


def _heapify_legacy(buf: bytes, ser_ver: int, pre_longs: int, fam: int,
                    flags: int, seed_hash: int, seed: int | None,
                    lg_k: int | None) -> ThetaSketch:
    """Cross-version readers for serVer 1 (~2014) and 2 images —
    theta/ForwardCompatibility.java:53-118 semantics:
      v1: always preLongs=3, compact ordered, famID 1-3, NO seed hash
          stored (caller's seed supplies it), no empty flag — empty iff
          count==0 and theta==MAX (or a bare 24-byte preamble);
      v2: preLongs 1 (empty) / 2 (exact) / 3 (estimating), compact
          ordered, famID 1-4, seed hash at bytes 6-7 like v3."""
    sh = _seed_hash(seed) if seed is not None or ser_ver == 1 else seed_hash
    out_lg = lg_k if lg_k is not None else DEFAULT_LG_K

    def _empty() -> ThetaSketch:
        return ThetaSketch(out_lg, sh, MAX_THETA, np.empty(0, np.uint64))

    if ser_ver == 1:
        if pre_longs != 3:
            raise ValueError(f"serVer-1 preLongs must be 3, got {pre_longs}")
        if not 1 <= fam <= 3:
            raise ValueError(f"serVer-1 family must be 1-3, got {fam}")
        count = struct.unpack_from("<i", buf, 8)[0]
        theta = np.uint64(struct.unpack_from("<Q", buf, 16)[0])
        if (count == 0 and theta == MAX_THETA) or len(buf) <= 24:
            return _empty()
        hashes = np.frombuffer(buf, dtype="<u8", count=count,
                               offset=24).astype(np.uint64)
        lg = lg_k if lg_k is not None else \
            _lg_k_for_count(count, theta != MAX_THETA)
        return ThetaSketch(lg, sh, theta, hashes)

    # ser_ver == 2
    if not 1 <= fam <= 4:
        raise ValueError(f"serVer-2 family must be 1-4, got {fam}")
    if seed is not None and seed_hash != compute_seed_hash(seed):
        raise ValueError(
            f"seed-hash mismatch in serVer-2 image: {seed_hash} != "
            f"{compute_seed_hash(seed)}")
    if pre_longs == 1:
        return _empty()
    count = struct.unpack_from("<i", buf, 8)[0]
    if count == 0:
        return _empty()
    theta = MAX_THETA if pre_longs == 2 else \
        np.uint64(struct.unpack_from("<Q", buf, 16)[0])
    hashes = np.frombuffer(buf, dtype="<u8", count=count,
                           offset=pre_longs << 3).astype(np.uint64)
    lg = lg_k if lg_k is not None else _lg_k_for_count(count, pre_longs == 3)
    return ThetaSketch(lg, sh, theta, hashes)
