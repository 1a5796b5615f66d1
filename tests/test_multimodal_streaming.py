"""Tests: multimodal column plumbing, similarity search, incremental
streaming state."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketches_java_spark.functions.multimodal import (
    audio_stats,
    decode_image,
    frame_sample,
    image_features,
)
from datasketches_java_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_blas,
    simhash_ann_buckets,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [(i, bytes(np.random.default_rng(i).integers(0, 256, 4096,
                                                        dtype=np.uint8)))
            for i in range(20)]
    return spark.createDataFrame(rows, "media_id long, blob binary").cache()


def test_decode_image_contract(spark, media):
    out = decode_image(media, "blob", "media_id", width=8, height=8)
    rows = out.collect()
    assert len(rows) == 20
    for r in rows:
        assert r["meta"]["width"] == 8 and r["meta"]["channels"] == 3
        assert len(r["pixels"]) == 8 * 8 * 3
        assert all(0 <= p <= 255 for p in r["pixels"][:10])
    # deterministic: same content -> same pixels
    again = decode_image(media, "blob", "media_id", width=8, height=8)
    assert again.exceptAll(out).count() == 0


def test_decode_image_real_path_raises_for_compressed(spark, media):
    """Non-BMP bytes on the real path still raise at the Pillow seam."""
    with pytest.raises(Exception, match="NotImplementedError|Pillow"):
        decode_image(media.limit(1), "blob", "media_id", fake=False).collect()


def test_decode_image_real_bmp(spark):
    """REAL pure-numpy BMP decode through the Spark operator: exact
    pixel recovery at native size, deterministic nearest-neighbor
    downsample otherwise; meta.width/height describe the emitted
    array, meta.src_width/src_height the original image."""
    from datasketches_java_spark.functions.multimodal import (
        _decode_bmp, encode_bmp)
    rng = np.random.default_rng(7)
    imgs = {i: rng.integers(0, 256, (16, 20, 3), dtype=np.uint8)
            for i in range(4)}
    # library-level exact roundtrip (incl. row padding: w=20 -> 60B rows)
    for px in imgs.values():
        assert np.array_equal(_decode_bmp(encode_bmp(px)), px)
    df = spark.createDataFrame(
        [(i, bytearray(encode_bmp(px))) for i, px in imgs.items()],
        "media_id long, blob binary")
    rows = decode_image(df, "blob", "media_id", width=20, height=16,
                        fake=False).collect()
    assert len(rows) == 4
    for r in rows:
        assert (r["meta"]["width"], r["meta"]["height"],
                r["meta"]["format"]) == (20, 16, "bmp")
        got = np.array(r["pixels"], dtype=np.uint8).reshape(16, 20, 3)
        assert np.array_equal(got, imgs[r["media_id"]])
    # resample path keeps the contract shape; meta dims must describe
    # the EMITTED array (reshape-safe), source dims kept separately
    small = decode_image(df, "blob", "media_id", width=8, height=8,
                         fake=False).collect()
    assert all(len(r["pixels"]) == 8 * 8 * 3 for r in small)
    for r in small:
        m = r["meta"]
        assert (m["width"], m["height"]) == (8, 8)
        assert (m["src_width"], m["src_height"]) == (20, 16)
        np.array(r["pixels"], dtype=np.uint8).reshape(
            m["height"], m["width"], m["channels"])


def test_png_roundtrip_every_filter():
    """Library-level exact PNG roundtrip through EVERY scanline filter
    (None/Sub/Up/Average/Paeth) — real zlib-compressed PNG bytes, no
    image library."""
    from datasketches_java_spark.functions.multimodal import (
        _decode_png, encode_png)
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)
    for ftype in range(5):
        buf = encode_png(px, filter_type=ftype)
        assert buf[:8] == b"\x89PNG\r\n\x1a\n"
        assert np.array_equal(_decode_png(buf), px), f"filter {ftype}"
    # gradient image (the case where Sub/Paeth actually compress)
    grad = (np.arange(24 * 24 * 3, dtype=np.int64) % 256).astype(
        np.uint8).reshape(24, 24, 3)
    for ftype in range(5):
        assert np.array_equal(_decode_png(encode_png(grad, ftype)), grad)


def test_png_rejects_unsupported():
    from datasketches_java_spark.functions.multimodal import (
        _decode_png, encode_png)
    import struct as _s
    import zlib as _z
    with pytest.raises(ValueError, match="not a PNG"):
        _decode_png(b"\x00" * 20)
    # interlaced IHDR must be rejected at the documented seam
    def chunk(tag, body):
        c = tag + body
        return _s.pack(">I", len(body)) + c + _s.pack(">I", _z.crc32(c))
    ihdr = _s.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 1)  # interlace=1
    buf = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", _z.compress(b"\x00" * 52))
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="interlace"):
        _decode_png(buf)
    # truncated pixel stream
    good = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    # corrupt the IDAT length contract by re-wrapping a short stream
    bad = (good[:8] + chunk(b"IHDR", _s.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", _z.compress(b"\x00" * 10)) + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="length mismatch"):
        _decode_png(bad)


def test_decode_image_real_png(spark):
    """REAL PNG decode through the Spark operator: exact pixel recovery
    at native size, emitted-dims meta contract, gray + RGBA variants."""
    from datasketches_java_spark.functions.multimodal import (
        _decode_png, encode_png)
    import struct as _s
    import zlib as _z
    rng = np.random.default_rng(23)
    imgs = {i: rng.integers(0, 256, (12, 15, 3), dtype=np.uint8)
            for i in range(4)}
    df = spark.createDataFrame(
        [(i, bytearray(encode_png(px, filter_type=i % 5)))
         for i, px in imgs.items()],
        "media_id long, blob binary")
    rows = decode_image(df, "blob", "media_id", width=15, height=12,
                        fake=False).collect()
    assert len(rows) == 4
    for r in rows:
        m = r["meta"]
        assert (m["width"], m["height"], m["format"]) == (15, 12, "png")
        assert (m["src_width"], m["src_height"]) == (15, 12)
        got = np.array(r["pixels"], dtype=np.uint8).reshape(12, 15, 3)
        assert np.array_equal(got, imgs[r["media_id"]])
    # grayscale (color type 0) expands to 3 channels; RGBA (6) drops alpha
    def chunk(tag, body):
        c = tag + body
        return _s.pack(">I", len(body)) + c + _s.pack(">I", _z.crc32(c))
    def raw_png(arr, ct):
        h, w = arr.shape[:2]
        scan = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
        return (b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0))
                + chunk(b"IDAT", _z.compress(scan)) + chunk(b"IEND", b""))
    gray = rng.integers(0, 256, (6, 7, 1), dtype=np.uint8)
    rgba = rng.integers(0, 256, (6, 7, 4), dtype=np.uint8)
    assert np.array_equal(_decode_png(raw_png(gray, 0)),
                          np.repeat(gray, 3, axis=2))
    assert np.array_equal(_decode_png(raw_png(rgba, 6)), rgba[:, :, :3])


def test_audio_stats_real_wav(spark):
    """REAL pure-numpy WAV parse through the Spark operator: exact
    sample count and RMS for synthesized PCM-16 audio, including a
    stereo file and a RIFF layout with a leading junk chunk."""
    from datasketches_java_spark.functions.multimodal import (
        _decode_wav, encode_wav)
    t = np.arange(1600)
    mono = (np.sin(2 * np.pi * 440 * t / 16000) * 12000).astype(np.int16)
    stereo = np.column_stack([mono, (mono // 2)]).ravel()
    wav_mono = encode_wav(mono)
    wav_stereo = encode_wav(stereo, channels=2)
    # chunk-walk robustness: junk chunk before fmt
    junk = (wav_mono[:12] + b"JUNK" + np.int32(4).tobytes() + b"zzzz"
            + wav_mono[12:])
    s, rate, ch = _decode_wav(junk)
    assert (len(s), rate, ch) == (1600, 16000, 1)
    df = spark.createDataFrame(
        [(0, bytearray(wav_mono)), (1, bytearray(wav_stereo))],
        "media_id long, blob binary")
    out = {r["media_id"]: r for r in
           audio_stats(df, "blob", "media_id", fake=False).collect()}
    assert out[0]["n_samples"] == 1600
    assert out[1]["n_samples"] == 3200
    expect = float(np.sqrt(np.mean(mono.astype(np.float64) ** 2)))
    assert abs(out[0]["rms"] - expect) < 1e-9
    with pytest.raises(Exception, match="NotImplementedError|libsndfile"):
        audio_stats(spark.createDataFrame([(9, b"\xffmp3data")],
                                          "media_id long, blob binary"),
                    "blob", "media_id", fake=False).collect()


def test_image_feature_shape(spark, media):
    px = decode_image(media, "blob", "media_id", width=8, height=8)
    feats = image_features(px, "pixels", "media_id", dim=16).collect()
    assert len(feats) == 20
    assert all(len(r["features"]) == 16 for r in feats)


def test_frame_sample(spark, media):
    out = frame_sample(media, "blob", "media_id", n_frames=4, frame_size=128)
    rows = out.collect()
    assert len(rows) == 80
    assert all(len(r["frame_bytes"]) <= 128 for r in rows)
    idx = sorted({r["frame_idx"] for r in rows})
    assert idx == [0, 1, 2, 3]


def test_audio_stats(spark, media):
    rows = audio_stats(media, "blob", "media_id").collect()
    assert len(rows) == 20
    assert all(r["n_samples"] == 2048 and r["rms"] > 0 for r in rows)


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 16))
    # make 0/1 and 2/3 near-identical pairs
    base[1] = base[0] + 0.01 * rng.standard_normal(16)
    base[3] = base[2] + 0.01 * rng.standard_normal(16)
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_cosine_topk_exact(spark, embeddings):
    out = cosine_topk(embeddings.filter("vec_id < 4"), embeddings,
                      "vec_id", "embedding", k=3).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    assert top1[0] == 1 and top1[1] == 0 and top1[2] == 3 and top1[3] == 2


def test_cosine_topk_blas_matches_exact(spark, embeddings):
    exact = cosine_topk(embeddings.filter("vec_id < 6"), embeddings,
                        "vec_id", "embedding", k=3)
    blas = cosine_topk_blas(embeddings.filter("vec_id < 6"), embeddings,
                            "vec_id", "embedding", k=3)
    assert blas.exceptAll(exact).count() == 0
    assert exact.exceptAll(blas).count() == 0


def test_simhash_ann_recall_at_near_dup(spark, embeddings):
    out = simhash_ann_buckets(embeddings.filter("vec_id < 2"), embeddings,
                              "vec_id", "embedding", k=3, bits=4).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    # near-identical vectors land in the same hyperplane bucket
    assert top1.get(0) == 1 and top1.get(1) == 0


# ---------------------------------------------------------------------------
# incremental / streaming
# ---------------------------------------------------------------------------

def test_incremental_theta_state(spark, tmp_path):
    from datasketches_java_spark.streaming.incremental import (
        incremental_theta_state)
    state = str(tmp_path / "st")
    b1 = spark.createDataFrame([(i % 3, i) for i in range(100)], "k int, v long")
    b2 = spark.createDataFrame([(i % 3, i) for i in range(50, 200)], "k int, v long")
    incremental_theta_state(spark, b1, state, "v", by=["k"])
    merged = incremental_theta_state(spark, b2, state, "v", by=["k"])
    got = {r["k"]: int(round(r["est"])) for r in merged.select(
        "k", F.theta_sketch_estimate("theta_sketch").alias("est")).collect()}
    # exact mode: distinct v per k over 0..199
    want = {k: len({v for v in range(200) if v % 3 == k}) for k in range(3)}
    assert got == want


def test_incremental_theta_state_keeps_lg_k(spark, tmp_path):
    """The merge of batch 2 into the state keeps the batches' nominal
    size: 6,000 distinct values stay exact at lg_k=16."""
    from datasketches_java_spark.streaming.incremental import (
        incremental_theta_state)
    state = str(tmp_path / "st16")
    for lo, hi in ((0, 3_000), (2_000, 6_000)):
        merged = incremental_theta_state(
            spark, spark.range(lo, hi).withColumnRenamed("id", "v"),
            state, "v", by=[], lg_k=16)
    assert merged.select(F.theta_sketch_estimate("theta_sketch")).first()[0] == 6_000.0


def test_delta_new_docs(spark):
    from datasketches_java_spark.streaming.incremental import delta_new_docs
    pages = spark.createDataFrame([(f"u{i}", "t") for i in range(10)],
                                  "url string, text string")
    done = spark.createDataFrame([(f"u{i}",) for i in range(6)], "url string")
    assert delta_new_docs(pages, done, "url").count() == 4


def test_epoch_drift_check(spark, tmp_path):
    from datasketches_java_spark.streaming.incremental import epoch_drift_check
    rng = np.random.default_rng(11)
    same1 = spark.createDataFrame(
        [(float(x),) for x in rng.normal(0, 1, 4000)], "x double")
    same2 = spark.createDataFrame(
        [(float(x),) for x in rng.normal(0, 1, 4000)], "x double")
    shifted = spark.createDataFrame(
        [(float(x),) for x in rng.normal(3, 1, 4000)], "x double")
    state = str(tmp_path / "drift")
    r0 = epoch_drift_check(spark, same1, state, "x")
    assert r0 == {"drifted": False, "d": 0.0}  # first epoch: no baseline
    r1 = epoch_drift_check(spark, same2, state, "x")
    assert not r1["drifted"]
    r2 = epoch_drift_check(spark, shifted, state, "x")
    assert r2["drifted"] and r2["d"] > 0.5


def test_streaming_sketch_query(spark, tmp_path):
    """Structured Streaming micro-batch path: rate-limited file stream
    of events → windowed theta state; result equals batch answer."""
    import pandas as pd
    from datasketches_java_spark.streaming.incremental import (
        incremental_sketch_stream)
    src = tmp_path / "src"
    src.mkdir()
    pdf = pd.DataFrame({
        "ts": pd.to_datetime("2025-01-01") + pd.to_timedelta(
            np.arange(300) * 20, unit="s"),
        "user": np.arange(300) % 37,
        "etype": ["a" if i % 2 else "b" for i in range(300)],
    })
    pdf.to_parquet(src / "p0.parquet", index=False, coerce_timestamps="us",
                   allow_truncated_timestamps=True)
    stream = (spark.readStream.schema("ts timestamp, user long, etype string")
              .parquet(str(src)))
    q = incremental_sketch_stream(spark, stream, str(tmp_path / "state"),
                                  "user", by=["etype"], ts_col="ts",
                                  window="30 minutes")
    q.awaitTermination(120)
    state = spark.read.parquet(str(tmp_path / "state" / "theta_state"))
    got = state.select("win", "etype",
                       F.round(F.theta_sketch_estimate("theta_sketch")).cast("long")
                       .alias("users"))
    batch = (spark.createDataFrame(pdf)
             .withColumn("win", F.window("ts", "30 minutes").start.cast("string"))
             .groupBy("win", "etype")
             .agg(F.countDistinct("user").alias("users")))
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_ivf_cosine_topk_recall(spark):
    """IVF probe of 4/16 cells must recover most exact top-5
    neighbors (data-independent coarse quantizer ⇒ recall well below
    1.0 is possible, but same-cell probing captures the bulk at this
    dimensionality); sanity of the assign→probe→re-score plan."""
    from datasketches_java_spark.operators.similarity import (
        cosine_topk, ivf_cosine_topk)
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = emb.filter("vec_id < 20")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(qs, emb, "vec_id", "embedding", k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in ivf_cosine_topk(qs, emb, "vec_id", "embedding",
                                       k=5, n_cells=16, nprobe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3  # untrained quantizer floor; plan correctness
    # every IVF result is a real corpus vector and never the query
    assert all(q != n for q, n in approx)


def test_stateful_theta_distinct_stream(spark, tmp_path):
    """applyInPandasWithState theta state: feed the same rows in TWO
    micro-batches (maxFilesPerTrigger=1); the final per-key estimate
    must equal the exact distinct count over BOTH batches — the state
    really persists and the union algebra hides batch boundaries."""
    import pandas as pd
    from datasketches_java_spark.streaming.incremental import (
        stateful_theta_distinct)
    src = tmp_path / "stream_src"
    src.mkdir()
    # batch 1: keys a,b ; batch 2: overlapping values for a, new key c
    pd.DataFrame({"k": ["a"] * 60 + ["b"] * 40,
                  "v": list(range(60)) + list(range(40))}) \
        .to_parquet(src / "b1.parquet")
    pd.DataFrame({"k": ["a"] * 50 + ["c"] * 30,
                  "v": list(range(30, 80)) + list(range(30))}) \
        .to_parquet(src / "b2.parquet")
    stream = (spark.readStream.schema("k string, v long")
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    out = stateful_theta_distinct(stream, "k", "v", lg_k=12)
    q = (out.writeStream.format("memory").queryName("theta_state")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM theta_state").collect()
    # last emission per key wins (update mode emits per batch)
    latest = {}
    for r in rows:
        latest[r["key"]] = (r["distinct_estimate"], r["rows_seen"])
    assert round(latest["a"][0]) == 80   # 0..79 across both batches
    assert latest["a"][1] == 110
    assert round(latest["b"][0]) == 40
    assert round(latest["c"][0]) == 30


def test_media_exact_dedup_via_binary_theta(spark, media):
    """Raw-media exact dedup: theta over the BINARY blob column
    (update(byte[]) parity) counts distinct payloads and survives the
    two-phase merge — the media-dedup key path at 100 TB (hash the
    bytes once, shuffle 8-byte images, never the blobs)."""
    from pyspark.sql import functions as F
    from datasketches_java_spark.functions.sketch_aggs import theta_sketch_agg
    # duplicate every blob 3x across partitions
    tripled = media.union(media).union(media).repartition(8)
    sk = theta_sketch_agg(tripled, "blob", lg_k=12)
    est = sk.select(F.theta_sketch_estimate("theta_sketch")).head()[0]
    assert round(est) == 20
    exact = tripled.select(F.sha2("blob", 256)).distinct().count()
    assert exact == 20


def test_stateful_theta_distinct_state_stays_bounded(spark, tmp_path):
    """Three micro-batches of 100 new values per key at lg_k=6: the
    stored image never holds more than 2^6 entries (estimation mode),
    and the estimate stays within the sketch's error."""
    import pandas as pd
    from datasketches_java_spark.sketches import theta
    from datasketches_java_spark.streaming.incremental import (
        stateful_theta_distinct)
    src = tmp_path / "stream_src"
    src.mkdir()
    for b in range(3):
        pd.DataFrame({"k": ["a"] * 100, "v": range(b * 100, b * 100 + 100)}) \
            .to_parquet(src / f"b{b}.parquet")
    stream = (spark.readStream.schema("k string, v long")
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    ckpt = str(tmp_path / "ckpt")
    q = (stateful_theta_distinct(stream, "k", "v", lg_k=6)
         .writeStream.format("memory").queryName("theta_bounded")
         .outputMode("update").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    ests = [r[0] for r in spark.sql(
        "SELECT distinct_estimate FROM theta_bounded").collect()]
    assert len(ests) == 3 and abs(ests[-1] - 300) < 0.5 * 300
    img = (spark.read.format("statestore").load(ckpt)
           .select("value.groupState.image").first()[0])
    stored = theta.ThetaSketch.from_bytes(bytes(img))
    assert stored.theta < theta.MAX_THETA and stored.count <= 1 << 6
