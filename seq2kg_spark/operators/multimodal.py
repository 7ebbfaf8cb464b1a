"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schema, partition-friendly
batch shapes, Arrow-batched ``mapInPandas`` UDF signatures, size-bucketed
repartition for payload skew.  The *codec* layer is a seam: no image/audio
libraries exist in this container, so decoding is dispatched per format —
a deterministic built-in fake codec (``x-fake``) exercises the full path
end-to-end, and real formats raise ``NotImplementedError`` with the
library that would serve them (PIL/libsndfile/pyav), exactly where a
production deployment plugs in.

Media table shape:
    media(url string, kind string,            -- image | audio | video
          payload binary,
          meta struct<width int, height int, sample_rate int,
                      n_frames int, format string>)
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("kind", T.StringType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ])),
])

FAKE_MAGIC = b"FAKE"
FAKE_AUDIO_MAGIC = b"FAKA"


def encode_fake_image(width: int, height: int, seed: int) -> bytes:
    """Deterministic stand-in payload: FAKE | w | h | seeded bytes."""
    rng = np.random.RandomState(seed)
    pixels = rng.randint(0, 256, size=width * height, dtype=np.uint8)
    return FAKE_MAGIC + struct.pack("<II", width, height) + pixels.tobytes()


def encode_fake_audio(sample_rate: int, n_samples: int, seed: int) -> bytes:
    """Deterministic stand-in waveform: FAKA | rate | n | int16 samples.
    Second synthetic codec — proves the per-format dispatch seam is real
    (different magic, different element width, different feature path)."""
    rng = np.random.RandomState(seed)
    samples = rng.randint(-32768, 32768, size=n_samples, dtype=np.int16)
    return (FAKE_AUDIO_MAGIC + struct.pack("<II", sample_rate, n_samples)
            + samples.tobytes())


def _md5_stream_digest_heads(seed: int, n: int, width: int) -> bytes:
    """First `width` digest bytes of md5(f"{seed}:{i}") for i in [0, n),
    concatenated. One digest per element is the pinned cross-engine
    semantic (the SQL oracle regenerates the identical stream), but the
    assembly is batched: one prefix encode, a comprehension of digest
    slices, a single join — no per-element bytes() churn.  (splitmix64,
    used for the ANN hyperplanes, would need wrap-around 64-bit
    multiplication, which DuckDB BIGINT raises on rather than wraps.)"""
    import hashlib

    prefix = f"{seed}:".encode()
    md5 = hashlib.md5
    return b"".join(md5(prefix + str(i).encode()).digest()[:width]
                    for i in range(n))


def _md5_stream_bytes(seed: int, n: int) -> bytes:
    """n deterministic payload bytes: byte[i] = first digest byte of
    md5(f"{seed}:{i}")."""
    return _md5_stream_digest_heads(seed, n, 1)


def encode_fake_image_md5(width: int, height: int, seed: int) -> bytes:
    """x-fake image whose pixel stream is md5-derived (oracle-exact twin
    of :func:`encode_fake_image`, same container/decoder)."""
    return (FAKE_MAGIC + struct.pack("<II", width, height)
            + _md5_stream_bytes(seed, width * height))


def encode_fake_audio_md5(sample_rate: int, n_samples: int,
                          seed: int) -> bytes:
    """x-fake-audio waveform whose samples are md5-derived: sample[i] =
    d[0]·256 + d[1] − 32768 over the first two digest bytes (oracle-exact
    twin of :func:`encode_fake_audio`, same container/decoder).  The
    arithmetic is vectorized: the two head bytes of every digest are
    joined once, then one numpy expression builds the whole waveform."""
    heads = np.frombuffer(
        _md5_stream_digest_heads(seed, n_samples, 2), dtype=np.uint8
    ).reshape(-1, 2).astype(np.int32)
    samples = (heads[:, 0] * 256 + heads[:, 1] - 32768).astype(np.int16)
    return (FAKE_AUDIO_MAGIC + struct.pack("<II", sample_rate, n_samples)
            + samples.tobytes())


def _decode(payload: bytes, fmt: str) -> np.ndarray:
    """2-D uint8 array for images, 1-D int16 waveform for audio."""
    if fmt == "x-fake":
        if payload[:4] != FAKE_MAGIC:
            raise ValueError("corrupt x-fake payload")
        w, h = struct.unpack("<II", payload[4:12])
        return np.frombuffer(payload[12:12 + w * h],
                             dtype=np.uint8).reshape(h, w)
    if fmt == "x-fake-audio":
        if payload[:4] != FAKE_AUDIO_MAGIC:
            raise ValueError("corrupt x-fake-audio payload")
        _rate, n = struct.unpack("<II", payload[4:12])
        return np.frombuffer(payload[12:12 + 2 * n], dtype=np.int16)
    raise NotImplementedError(
        f"no codec for format {fmt!r} in this environment — plug in "
        "PIL/imageio (image), soundfile (audio) or pyav (video) here"
    )


def media_features(media: DataFrame, n_bins: int = 16,
                   num_partitions: int | None = None,
                   normalize: bool = True) -> DataFrame:
    """decode → per-item feature vector.

    Images: intensity histogram over [0, 256); audio: |amplitude|
    histogram over [0, 32768) with (width, height) = (n_samples, 1).
    (url, kind, feature array<float>, width int, height int) — the
    feature UDF sees whole Arrow batches; payload-size skew (a video is
    10^4× a thumbnail, and kinds are skewed too) is flattened by the same
    salted size-bucketed repartition as the text path.

    ``normalize=False`` emits the RAW integer bin counts (array<long>)
    instead of count/size ratios — pure integer arithmetic a SQL oracle
    can reproduce bit-for-bit over md5-derived payloads.
    """
    from seq2kg_spark.operators.repartition import salted_size_repartition

    balanced = salted_size_repartition(
        media, F.length("payload"), num_partitions=num_partitions
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"url": [], "kind": [], "feature": [], "width": [],
                    "height": []}
            for url, kind, payload, meta in zip(
                pdf["url"], pdf["kind"], pdf["payload"], pdf["meta"]
            ):
                fmt = meta["format"] if meta is not None else None
                if payload is None or fmt is None:
                    continue
                arr = _decode(bytes(payload), fmt)
                if arr.ndim == 2:            # image: intensity histogram
                    hist, _ = np.histogram(arr, bins=n_bins, range=(0, 256))
                    width, height = arr.shape[1], arr.shape[0]
                else:                        # audio: |amplitude| histogram
                    hist, _ = np.histogram(np.abs(arr.astype(np.int32)),
                                           bins=n_bins, range=(0, 32768))
                    width, height = arr.shape[0], 1
                feat = (hist if not normalize
                        else (hist / max(arr.size, 1)).astype("float32"))
                rows["url"].append(url)
                rows["kind"].append(kind)
                rows["feature"].append(feat.tolist())
                rows["width"].append(width)
                rows["height"].append(height)
            yield pd.DataFrame({
                "url": pd.Series(rows["url"], dtype=object),
                "kind": pd.Series(rows["kind"], dtype=object),
                "feature": pd.Series(rows["feature"], dtype=object),
                "width": pd.Series(rows["width"], dtype="int32"),
                "height": pd.Series(rows["height"], dtype="int32"),
            })

    feature_type = "array<float>" if normalize else "array<long>"
    return balanced.mapInPandas(
        fn, schema=f"url string, kind string, feature {feature_type}, "
                   "width int, height int"
    )


def resize_stub(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize seam: x-fake payloads are re-encoded at the target size
    (nearest-neighbor); real formats raise where the codec plugs in."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_urls, out_payloads = [], []
            for url, payload, meta in zip(pdf["url"], pdf["payload"],
                                          pdf["meta"]):
                fmt = meta["format"] if meta is not None else None
                img = _decode(bytes(payload), fmt)
                ys = (np.linspace(0, img.shape[0] - 1, height)).astype(int)
                xs = (np.linspace(0, img.shape[1] - 1, width)).astype(int)
                resized = img[np.ix_(ys, xs)]
                out_urls.append(url)
                out_payloads.append(
                    FAKE_MAGIC + struct.pack("<II", width, height)
                    + resized.tobytes()
                )
            yield pd.DataFrame({
                "url": pd.Series(out_urls, dtype=object),
                "payload": pd.Series(out_payloads, dtype=object),
            })

    return media.mapInPandas(fn, schema="url string, payload binary")
