"""Multimodal payload operators: image resize, video frame-sampling,
audio feature windows — the remaining training-data-pipeline media ops.

All Spark plumbing (schemas, Arrow batching, partition behavior) is the
real production shape; codecs follow the images.py convention — a real
numpy implementation where the container allows (resize over our
decodable formats), and a deterministic capsule format where the real
library is absent (video = concatenated PNG frames with an index header;
audio = PCM16 in a length-prefixed capsule). Real-format seams raise
``NotImplementedError``.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from web_crawler_spark.images import decode_image, encode_png

# ------------------------------------------------------------- resize ------


def resize_nearest(pixels: np.ndarray, w: int, h: int) -> np.ndarray:
    """Nearest-neighbor resample (pure numpy, vectorized)."""
    sh, sw = pixels.shape[:2]
    ys = (np.arange(h) * sh // h).clip(0, sh - 1)
    xs = (np.arange(w) * sw // w).clip(0, sw - 1)
    return pixels[ys][:, xs]


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
    ]
)


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Decode → nearest-neighbor resize → re-encode PNG, Arrow-batched.
    Input: the input_hint images schema. Poison rows yield
    decode_ok=False instead of failing the stage."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                try:
                    px = decode_image(bytes(r["bytes"]), r["fmt"])
                    small = resize_nearest(px, out_w, out_h)
                    rows.append(
                        (r["image_id"], encode_png(small), out_w, out_h,
                         "png", r["caption"], True)
                    )
                except Exception:
                    rows.append(
                        (r["image_id"], None, None, None, r["fmt"],
                         r["caption"], False)
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZED_SCHEMA.fields])

    return images.mapInPandas(gen, RESIZED_SCHEMA)


# ------------------------------------------------------------- video -------
VIDEO_MAGIC = b"MINIVID1"


def encode_video(frames: list[np.ndarray]) -> bytes:
    """Deterministic video capsule: frame count + length-prefixed PNGs."""
    parts = [VIDEO_MAGIC, struct.pack("<I", len(frames))]
    for f in frames:
        png = encode_png(f)
        parts.append(struct.pack("<I", len(png)))
        parts.append(png)
    return b"".join(parts)


def decode_video_frames(data: bytes) -> list[np.ndarray]:
    from web_crawler_spark.images import decode_png

    if not data.startswith(VIDEO_MAGIC):
        raise NotImplementedError(
            "real video decode requires ffmpeg/PyAV — not in this container; "
            "only the MINIVID capsule is supported"
        )
    n = struct.unpack("<I", data[8:12])[0]
    off, frames = 12, []
    for _ in range(n):
        ln = struct.unpack("<I", data[off : off + 4])[0]
        off += 4
        frames.append(decode_png(data[off : off + ln]))
        off += ln
    return frames


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
    ]
)


def sample_frames(videos: DataFrame, every_n: int = 2) -> DataFrame:
    """One row per sampled frame (idx % every_n == 0), re-encoded PNG.
    A UDTF-shaped mapInPandas: row → many rows; frame order is carried
    explicitly in frame_idx, never by partition order."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                try:
                    frames = decode_video_frames(bytes(r["bytes"]))
                    for i, f in enumerate(frames):
                        if i % every_n == 0:
                            rows.append(
                                (r["video_id"], i, encode_png(f),
                                 int(f.shape[1]), int(f.shape[0]), True)
                            )
                except Exception:
                    rows.append((r["video_id"], None, None, None, None, False))
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA.fields])

    return videos.mapInPandas(gen, FRAME_SCHEMA)


# ------------------------------------------------------------- audio -------
AUDIO_MAGIC = b"MINIAUD1"


def encode_audio(samples: np.ndarray, rate: int = 16000) -> bytes:
    """PCM16 capsule: rate + zlib-compressed int16 samples."""
    pcm = samples.astype(np.int16).tobytes()
    return AUDIO_MAGIC + struct.pack("<I", rate) + zlib.compress(pcm, 6)


def decode_audio(data: bytes) -> tuple[np.ndarray, int]:
    if not data.startswith(AUDIO_MAGIC):
        raise NotImplementedError(
            "real audio decode requires soundfile/librosa — not in this "
            "container; only the MINIAUD capsule is supported"
        )
    rate = struct.unpack("<I", data[8:12])[0]
    pcm = zlib.decompress(data[12:])
    return np.frombuffer(pcm, dtype=np.int16), rate


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType(), False),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("zero_crossings", T.LongType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
    ]
)


def audio_features(audios: DataFrame) -> DataFrame:
    """Per-clip scalar features (duration, RMS, zero-crossing count) —
    the audio analogue of image_features."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                try:
                    samples, rate = decode_audio(bytes(r["bytes"]))
                    x = samples.astype(np.float64)
                    rows.append(
                        (
                            r["audio_id"],
                            round(len(x) / rate, 6),
                            round(float(np.sqrt((x ** 2).mean())), 6),
                            int((np.signbit(x[1:]) != np.signbit(x[:-1])).sum()),
                            True,
                        )
                    )
                except Exception:
                    rows.append((r["audio_id"], None, None, None, False))
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields]
            )

    return audios.mapInPandas(gen, AUDIO_FEATURES_SCHEMA)
