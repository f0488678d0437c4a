"""Multimodal column plumbing: image/audio/video as opaque binary columns.

North-star requirement (BASELINE.json): treat media as ``binary`` columns
with typed metadata and run decode / feature-extract / resize / frame-sample
as Arrow-batched pandas iterators (``mapInPandas``).

Three decode backends:

- ``"real"`` — actual codecs. PNG and WAV are decoded with the pure-stdlib
  implementations in ``functions/codecs.py`` (zlib/struct/wave — no PIL or
  ffmpeg needed); other image formats fall through to PIL when importable.
  Video frame-sampling decodes uncompressed (fourcc ``DIB``/raw) AVI via
  the stdlib RIFF parser in ``functions/codecs.py``; compressed fourccs
  raise ``CodecError`` (those genuinely need ffmpeg).
- ``"pil"`` — import-gated PIL fast path for formats the stdlib decoder
  doesn't cover (JPEG, WebP, ...). Raises ImportError here (PIL absent).
- ``"fake"`` — the deterministic md5-chain pixel stream. This is what the
  registry's ``multimodal_image_features`` uses, because its pixels are
  exactly replayable in DuckDB SQL (the oracle), which a zlib-compressed
  real PNG is not.

Everything Spark-side is identical across backends and is the real
contract: schema, Arrow batching, partition sizing, UDF signatures,
metadata-driven pruning before any decode.

Scale design: media rows are fat (MBs); ``repartition`` by size budget before
mapInPandas so a batch of rows fits executor memory, and carry metadata in
plain columns so filters (format/width/duration) prune *before* any decode.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),        # image | audio | video
    StructField("format", StringType()),      # png/jpeg/wav/mp4/...
    StructField("data", BinaryType()),        # opaque payload
    StructField("width", LongType()),         # image/video metadata
    StructField("height", LongType()),
    StructField("duration_ms", LongType()),   # audio/video metadata
])


def make_fake_media(spark, n: int = 64, kind: str = "image") -> DataFrame:
    """Deterministic synthetic media table (payload = seeded bytes) for
    exercising the plumbing without codec libraries.

    Generated JVM-side from ``range`` (r14): the createDataFrame(rows)
    form pickled the 1 KiB payloads into a Python-RDD-backed relation, so
    EVERY downstream action re-ran a Python scan just to deserialize the
    fixture (measured 1.9s per materialization at n=64 — more than the
    decode itself). ``unhex(repeat(sha2(...)))`` produces byte-identical
    payloads (digest*32 == unhex(hex*32)) with no Python anywhere.
    Partition count stays ~16 rows per task so the downstream mapInPandas
    doesn't spin one worker per near-empty partition."""
    fmt = "png" if kind == "image" else "wav"
    return (
        spark.range(0, n, 1, max(1, n // 16))
        .select(
            F.col("id").alias("media_id"),
            F.lit(kind).alias("kind"),
            F.lit(fmt).alias("format"),
            F.unhex(F.repeat(
                F.sha2(F.concat(F.lit(f"{kind}-"), F.col("id").cast("string")),
                       256), 32)).alias("data"),
            (F.lit(64) + F.col("id") % 32).alias("width"),
            (F.lit(64) + F.col("id") % 16).alias("height"),
            (F.lit(1000) + F.col("id")).alias("duration_ms"),
        )
    )


def make_real_media(spark, n: int = 64, kind: str = "image") -> DataFrame:
    """Synthetic media table whose payloads are REAL encoded files:
    deterministic uint8 noise images as true PNGs (kind='image'), summed
    sine waves as true 16-bit PCM WAVs (kind='audio'), or noise-frame
    uncompressed AVIs (kind='video'), built with the stdlib codecs. This
    is the fixture the real-backend tests decode."""
    from ..functions.codecs import encode_avi, encode_png, encode_wav

    rows = []
    for i in range(n):
        if kind == "image":
            w, h = 64 + i % 32, 64 + i % 16
            rng = np.random.default_rng(1000 + i)
            payload = encode_png(rng.integers(0, 256, (h, w, 3), dtype=np.uint8))
            rows.append((i, kind, "png", bytearray(payload), w, h, 0))
        elif kind == "video":
            w, h, fps = 32 + i % 16, 24 + i % 8, 10
            n_frames = 4 + i % 5
            rng = np.random.default_rng(2000 + i)
            payload = encode_avi(
                [rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
                 for _ in range(n_frames)],
                fps=fps,
            )
            dur_ms = n_frames * 1000 // fps
            rows.append((i, "video", "avi", bytearray(payload), w, h, dur_ms))
        else:
            dur_ms = 1000 + i
            rate = 8000
            t = np.arange(int(rate * dur_ms / 1000)) / rate
            pcm = 0.5 * np.sin(2 * np.pi * (110 + 7 * i) * t) \
                + 0.25 * np.sin(2 * np.pi * (330 + 11 * i) * t)
            payload = encode_wav(pcm, rate)
            rows.append((i, "audio", "wav", bytearray(payload), 0, 0, dur_ms))
    return spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(max(1, n // 16))


def _payload_seed(data: bytes) -> str:
    """32-hex-char seed of a media payload (md5 of the first 64 bytes) —
    the handle through which the SQL oracle reaches the fake pixel stream."""
    return hashlib.md5(bytes(data[:64])).hexdigest()


def _fake_decode(data: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic stand-in for a real image decode: expands the payload
    seed into a uint8 HxWx3 array via an md5 counter chain — byte k of the
    image is byte k%16 of md5(seed ':' k//16). Chosen over numpy RNG so a
    SQL engine can replay the exact pixel stream (md5 + substr — see
    queries._multimodal_oracle_sql), which is what makes the registry's
    multimodal row oracle-checkable. Replace with PIL/libvips when
    available."""
    seed = _payload_seed(data)
    n = int(width) * int(height) * 3
    buf = b"".join(
        hashlib.md5(f"{seed}:{b}".encode()).digest() for b in range((n + 15) // 16)
    )
    return (
        np.frombuffer(buf[:n], dtype=np.uint8)
        .reshape(int(height), int(width), 3)
        .copy()
    )


def _image_feature_16(arr: np.ndarray, width: int, height: int, seed: str) -> list[float]:
    """Canonical 16-dim fake-CNN feature: per-channel mean/std/min/max (12)
    + width, height, pixel count, first seed byte (4).

    Mean and std are computed from EXACT integer sums (counts/sums/sum-of-
    squares fit in int64, so every intermediate double is exact) with the
    same expression shape the SQL oracle uses — ``(ss - s*s/cnt)/cnt`` —
    making the float64 results bit-identical across engines before the
    float32 cast. np.std would walk a different float path (subtract-mean
    first) and hash-mismatch."""
    import math

    chans = arr.reshape(-1, 3).astype(np.int64)
    cnt = chans.shape[0]
    out: list[float] = []
    s = chans.sum(axis=0)
    ss = (chans * chans).sum(axis=0)
    out.extend(float(int(s[c]) / cnt) for c in range(3))
    out.extend(
        math.sqrt((int(ss[c]) - int(s[c]) * int(s[c]) / cnt) / cnt) for c in range(3)
    )
    out.extend(float(int(chans[:, c].min())) for c in range(3))
    out.extend(float(int(chans[:, c].max())) for c in range(3))
    out.extend([float(width), float(height), float(cnt), float(int(seed[:2], 16))])
    return np.asarray(out, dtype=np.float32).tolist()


def _as_hwc3(arr: np.ndarray) -> np.ndarray:
    """Normalize a decoded image to HxWx3 uint8: grey is replicated across
    channels, RGBA drops alpha (stats are over color planes)."""
    if arr.ndim == 2:
        return np.repeat(arr[:, :, None], 3, axis=2)
    if arr.shape[2] == 1:
        return np.repeat(arr, 3, axis=2)
    return arr[:, :, :3]


def _decode_hwc3(data: bytes, width: int, height: int, backend: str) -> np.ndarray:
    """One image payload -> HxWx3 uint8 under the chosen backend. The real
    backend trusts the FILE's dimensions, not the metadata columns (a real
    pipeline validates metadata against payloads, not the reverse)."""
    if backend == "fake":
        return _fake_decode(data, width, height)
    from ..functions.codecs import decode_image

    return _as_hwc3(decode_image(data))


def extract_image_features(media: DataFrame, decode_backend: str = "fake",
                           feature_dim: int = 16) -> DataFrame:
    """Decode + feature-extract over image rows via mapInPandas.

    Output: (media_id, format, feature: array<float>) — the feature is the
    canonical 16-dim per-channel stats vector of the decoded array (see
    ``_image_feature_16``; a deterministic, library-free stand-in for a CNN
    embedding, tiled/truncated to ``feature_dim`` when != 16). Batches
    stream through Arrow; one decode per row, vectorized math per batch.
    The fake path is exactly replayable in SQL (md5 pixel chain + integer
    sums), which is what backs the registry oracle for
    ``multimodal_image_features``.
    """
    if decode_backend not in ("fake", "real"):
        raise ValueError(f"unknown decode_backend {decode_backend!r}")

    out_schema = StructType([
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("feature", ArrayType(FloatType(), containsNull=False)),
    ])

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for data, w, h in zip(pdf["data"], pdf["width"], pdf["height"]):
                arr = _decode_hwc3(data, w, h, decode_backend)
                h2, w2 = arr.shape[:2]
                f16 = _image_feature_16(arr, int(w2), int(h2), _payload_seed(data))
                feats.append(
                    f16 if feature_dim == 16
                    else np.resize(np.asarray(f16, np.float32), feature_dim).tolist()
                )
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "format": pdf["format"],
                "feature": feats,
            })

    imgs = media.filter(F.col("kind") == "image")
    return imgs.mapInPandas(_batches, out_schema)


def extract_audio_features(media: DataFrame, decode_backend: str = "fake",
                           n_frames: int = 8) -> DataFrame:
    """Decode + feature-extract over audio rows via mapInPandas.

    Output: (media_id, format, feature: array<float>) — per-frame RMS energy
    plus a global zero-crossing rate. Backend 'real' decodes actual WAV PCM
    with the stdlib codec (multi-channel is mono-ized by channel mean);
    'fake' expands a deterministic waveform seeded from the payload (length
    ∝ duration_ms, so metadata drives shape exactly like a real decoder).
    The Spark plumbing (Arrow batches, schema, partitioning) is shared.
    """
    if decode_backend not in ("fake", "real"):
        raise ValueError(f"unknown decode_backend {decode_backend!r}")

    out_schema = StructType([
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("feature", ArrayType(FloatType(), containsNull=False)),
    ])

    def _fake_pcm(data: bytes, duration_ms: int) -> np.ndarray:
        seed = int.from_bytes(hashlib.md5(bytes(data[:64])).digest()[:4], "little")
        rng = np.random.default_rng(seed)
        n_samples = max(int(duration_ms) * 8, n_frames)  # 8 kHz-ish
        return rng.standard_normal(n_samples).astype(np.float64)

    def _real_pcm(data: bytes) -> np.ndarray:
        from ..functions.codecs import decode_wav

        pcm, _rate = decode_wav(data)
        return pcm.mean(axis=1) if pcm.ndim == 2 else pcm

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for data, dur in zip(pdf["data"], pdf["duration_ms"]):
                pcm = _real_pcm(data) if decode_backend == "real" else _fake_pcm(data, dur)
                frames = np.array_split(pcm, n_frames)
                rms = [float(np.sqrt((f * f).mean())) for f in frames]
                zcr = float((np.diff(np.signbit(pcm)) != 0).mean())
                feats.append(np.asarray(rms + [zcr], dtype=np.float32).tolist())
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "format": pdf["format"],
                "feature": feats,
            })

    auds = media.filter(F.col("kind") == "audio")
    return auds.mapInPandas(_batches, out_schema)


def resize_images(media: DataFrame, target_w: int, target_h: int,
                  decode_backend: str = "fake") -> DataFrame:
    """Decode -> resize -> re-encode pipeline. Backend 'real' is a true
    PNG round-trip: stdlib decode, nearest-neighbor resample, stdlib
    re-encode — the output column holds valid PNGs at the target dims.
    The fake backend re-seeds at the target dims (plumbing-only)."""
    if decode_backend not in ("fake", "real"):
        raise ValueError(f"unknown decode_backend {decode_backend!r}")

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if decode_backend == "real":
            from ..functions.codecs import decode_image, encode_png, resize_nearest
        for pdf in it:
            out = pdf.copy()
            new_payloads = []
            for data in pdf["data"]:
                if decode_backend == "real":
                    arr = resize_nearest(decode_image(bytes(data)), target_w, target_h)
                    new_payloads.append(encode_png(arr))
                else:
                    arr = _fake_decode(data, target_w, target_h)
                    new_payloads.append(arr.tobytes()[:1024])
            out["data"] = new_payloads
            out["width"] = target_w
            out["height"] = target_h
            yield out

    return media.filter(F.col("kind") == "image").mapInPandas(_batches, media.schema)


def sample_video_frames(media: DataFrame, every_ms: int = 500,
                        decode_backend: str = "fake") -> DataFrame:
    """Frame sampling: one output row per sampled timestamp (flatMap shape).

    ``decode_backend="real"`` seeks the container with the STDLIB AVI codec
    (functions/codecs.py: RIFF walk, BI_RGB bottom-up BGR frames — the
    video twin of the PNG/WAV codecs, no ffmpeg): the frame nearest each
    sampled timestamp is re-encoded as PNG bytes. Compressed AVI streams
    or other containers raise CodecError naming the codec — route those
    through ffmpeg where it exists. The fake backend derives frame bytes
    deterministically from (payload, ts) for plumbing tests."""
    out_schema = StructType([
        StructField("media_id", LongType()),
        StructField("frame_ts_ms", LongType()),
        StructField("frame", BinaryType()),
    ])

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from vectordb_cloud_spark.functions.codecs import (
            decode_avi,
            encode_png,
        )

        for pdf in it:
            ids, tss, frames = [], [], []
            for mid, data, dur in zip(pdf["media_id"], pdf["data"], pdf["duration_ms"]):
                if decode_backend == "real":
                    decoded, fps = decode_avi(bytes(data))
                    for ts in range(0, int(dur), every_ms):
                        idx = min(int(ts * fps // 1000), len(decoded) - 1)
                        ids.append(mid)
                        tss.append(ts)
                        frames.append(encode_png(decoded[idx]))
                else:
                    for ts in range(0, int(dur), every_ms):
                        ids.append(mid)
                        tss.append(ts)
                        frames.append(hashlib.md5(
                            bytes(data[:32]) + str(ts).encode()).digest())
            yield pd.DataFrame({"media_id": ids, "frame_ts_ms": tss, "frame": frames})

    vids = media.filter(F.col("kind") == "video")
    return vids.mapInPandas(_batches, out_schema)

