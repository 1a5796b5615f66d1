"""Media ingestion source → the multimodal binary-column schema.

``read_media_binary`` scans with Spark's built-in ``binaryFile``
source: raw bytes + path metadata, file-granular-parallel (one task
per file split, no driver loop).  Media bytes stay an opaque ``blob``
column decoded later by the Arrow-batched operators in
functions/multimodal.py (BMP/PNG/baseline JPEG decode pure-numpy
in-repo; the JVM never materializes pixels).  Spark's ``image`` source
(JVM ImageIO decode at scan time) is the independent cross-check
decoder in tests/test_jpeg_codec.py; it shuffles decoded pixel
buffers, so it is not the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def read_media_binary(spark: SparkSession, path: str,
                      pattern: str | None = None) -> DataFrame:
    """Recursive binaryFile scan → (url, blob, length, mod_ts).

    ``pattern`` is a glob over file names (e.g. ``"*.jpg"``).  The
    blob column feeds functions/multimodal.decode_image /
    audio_stats / frame_sample directly."""
    reader = spark.read.format("binaryFile")
    if pattern:
        reader = reader.option("pathGlobFilter", pattern)
    df = reader.option("recursiveFileLookup", "true").load(path)
    return df.select(F.col("path").alias("url"),
                     F.col("content").alias("blob"),
                     F.col("length"),
                     F.col("modificationTime").alias("mod_ts"))

